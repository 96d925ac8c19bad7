"""Seeded inputs for the benchmark: a source-code corpus, RDF files and
a query list, each with the triples it must produce.

Everything here is plain Python seeded by ``random.Random(seed)``: the
same seed gives byte-identical inputs.  The program under test never
sees this module, only the files and strings it writes.  The expected
triples are written down by the generator itself (what each input
states), not derived from the program, so the checks in ``oracle.py``
are independent of it.

Term strings follow the store's own term encoding: IRIs bare,
literals quoted with an optional ``@lang`` / ``^^<datatype>`` suffix.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

CODE = "http://example.org/code#"
ENT = "http://example.org/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF + "type"
XSD = "http://www.w3.org/2001/XMLSchema#"
DATA = "http://example.org/data/"

# the twelve query classes, in the order the query list cycles them; the
# first eight make query_mix's measured round (path_closure never finishes)
QUERY_CLASSES = (
    "point", "star", "hub_join", "agg", "optional", "path_fixed", "construct", "describe",
    "ask", "two_hop", "filter_order", "path_closure",
)
SELECT_FORMATS = ("csv", "tsv", "json", "xml")
RDF_FORMATS = ("ttl", "nt", "rdf")


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k + 1) ** s for k in range(n)]


# --------------------------------------------------------------------------
# source-code corpus (the store of every workload but build_rdf)


@dataclass
class CodeCorpus:
    rows: list[dict]               # repo, path, commit, lang, content
    quads: list[tuple]             # (s, p, o, graph) one per statement made
    repos: list[str]
    files: list[str]               # file IRIs
    fns: list[str]                 # function IRIs
    modules: list[str]             # module IRIs, index = Zipf rank
    file_imports: dict[str, list[str]] = field(default_factory=dict)
    callers: dict[str, list[str]] = field(default_factory=dict)


def code_corpus(seed: int, n_files: int, n_repos: int = 12, n_modules: int = 40) -> CodeCorpus:
    """Python and Rust files whose imports draw modules Zipf-skewed (so
    a few modules are hubs) and whose functions call functions of
    uniformly drawn files (so call chains cross the corpus).

    Each file states: its repository's type, its own type, repo, lang,
    commit and content sha256, one ``imports`` per import line (a
    module drawn twice is imported twice) and, per function, its type,
    ``definedIn`` and ``calls``.  ``quads`` lists every statement, so it
    repeats the repository type once per file of that repository."""
    rng = random.Random(seed)
    weights = zipf_weights(n_modules)
    repos = [f"org{r % 4}/repo{r}" for r in range(n_repos)]
    n_defs = [rng.randint(3, 6) for _ in range(n_files)]
    rows, quads = [], []
    files, fns = [], []
    modules = [f"{ENT}module/mod_{m}" for m in range(n_modules)]
    file_imports: dict[str, list[str]] = {}
    callers: dict[str, list[str]] = {}
    for i in range(n_files):
        repo = repos[rng.randrange(n_repos)]
        lang = "python" if rng.random() < 2 / 3 else "rust"
        path = f"src/pkg{rng.randrange(8)}/file{i}.{'py' if lang == 'python' else 'rs'}"
        commit = hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()
        imports = rng.choices(range(n_modules), weights=weights, k=rng.randint(4, 6))
        calls = []
        for k in range(n_defs[i]):
            j = rng.randrange(n_files)
            calls.append((f"fn_{i}_{k}", f"fn_{j}_{rng.randrange(n_defs[j])}"))
        if lang == "python":
            parts = [f'"""module {path}"""\n']
            parts += [f"import mod_{m}\n" for m in imports[:-1]]
            parts.append(f"from mod_{imports[-1]} import helper\n\n")
            for k, (fn, callee) in enumerate(calls):
                parts.append(f"def {fn}(x):\n    # body {k}\n    return {callee}(x) + helper(x)\n\n")
        else:
            parts = [f"//! module {path}\n"]
            parts += [f"use mod_{m};\n" for m in imports]
            parts.append("\n")
            for fn, callee in calls:
                parts.append(f"pub fn {fn}(x: i64) -> i64 {{\n    {callee}(x)\n}}\n\n")
        content = "".join(parts)
        rows.append({"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content})

        g = "repo:///" + repo
        repo_iri = f"{ENT}repo/{repo}"
        file_iri = f"{ENT}file/{repo}/{path}"
        files.append(file_iri)
        quads += [
            (repo_iri, RDF_TYPE, CODE + "Repository", g),
            (file_iri, RDF_TYPE, CODE + "File", g),
            (file_iri, CODE + "inRepo", repo_iri, g),
            (file_iri, CODE + "lang", f'"{lang}"', g),
            (file_iri, CODE + "commit", f'"{commit}"', g),
            (file_iri, CODE + "sha256", f'"{hashlib.sha256(content.encode()).hexdigest()}"', g),
        ]
        file_imports[file_iri] = [modules[m] for m in imports]
        quads += [(file_iri, CODE + "imports", modules[m], g) for m in imports]
        for fn, callee in calls:
            fn_iri, callee_iri = f"{ENT}fn/{fn}", f"{ENT}fn/{callee}"
            fns.append(fn_iri)
            callers.setdefault(callee_iri, []).append(fn_iri)
            quads += [
                (fn_iri, RDF_TYPE, CODE + "Function", g),
                (fn_iri, CODE + "definedIn", file_iri, g),
                (fn_iri, CODE + "calls", callee_iri, g),
            ]
    return CodeCorpus(rows, quads, repos, files, fns, modules, file_imports, callers)


# --------------------------------------------------------------------------
# RDF files (build_rdf; the LOAD sources and DROP targets of every workload)


@dataclass
class RdfFile:
    name: str                      # file name; graph IRI is file:///<name>
    fmt: str                       # ttl | nt | rdf
    triples: list[tuple]           # (s, p, o) as stated, in file order
    text: str


def _rdf_triples(rng: random.Random, tag: str, n: int) -> list[tuple]:
    """``n`` statements about ``n // 4`` entities of this file: a type,
    an English and a German label, a typed integer and links to other
    entities of the file (low skew: link targets are uniform)."""
    ents = [f"{DATA}{tag}/e{k}" for k in range(max(2, n // 4))]
    classes = [f"{DATA}Class{c}" for c in range(5)]
    out = []
    while len(out) < n:
        s = rng.choice(ents)
        kind = rng.randrange(5)
        if kind == 0:
            out.append((s, RDF_TYPE, rng.choice(classes)))
        elif kind == 1:
            out.append((s, DATA + "label", f'"item {rng.randrange(1000)}"@en'))
        elif kind == 2:
            out.append((s, DATA + "label", f'"Ding {rng.randrange(1000)}"@de'))
        elif kind == 3:
            out.append((s, DATA + "size", f'"{rng.randrange(100000)}"^^<{XSD}integer>'))
        else:
            out.append((s, DATA + "link", rng.choice(ents)))
    return out


def _nt_term(t: str) -> str:
    return t if t.startswith('"') else f"<{t}>"


def _literal_parts(t: str) -> tuple[str, str | None, str | None]:
    lex, _, suffix = t[1:].rpartition('"')
    if suffix.startswith("@"):
        return lex, suffix[1:], None
    if suffix.startswith("^^<"):
        return lex, None, suffix[3:-1]
    return lex, None, None


def _split_iri(iri: str) -> tuple[str, str]:
    cut = max(iri.rfind("#"), iri.rfind("/")) + 1
    return iri[:cut], iri[cut:]


def _render(fmt: str, triples: list[tuple]) -> str:
    """N-Triples, Turtle (``a``, ``;``-free one statement per line,
    ``xsd:`` datatype pnames) or RDF/XML (one ``rdf:Description`` per
    statement, literal datatype and language as attributes)."""
    if fmt == "nt":
        return "".join(f"{_nt_term(s)} <{p}> {_nt_term(o)} .\n" for s, p, o in triples)
    if fmt == "ttl":
        out = [f"@prefix xsd: <{XSD}> .\n\n"]
        for s, p, o in triples:
            pt = "a" if p == RDF_TYPE else f"<{p}>"
            if o.startswith('"'):
                lex, lang, dt = _literal_parts(o)
                ot = f'"{lex}"' + (f"@{lang}" if lang else "") + (
                    f"^^xsd:{dt[len(XSD):]}" if dt else "")
            else:
                ot = f"<{o}>"
            out.append(f"<{s}> {pt} {ot} .\n")
        return "".join(out)
    namespaces = sorted({_split_iri(p)[0] for _, p, _ in triples} - {RDF})
    prefix = {ns: f"n{k}" for k, ns in enumerate(namespaces)}
    prefix[RDF] = "rdf"
    decl = " ".join(f'xmlns:{pf}="{ns}"' for ns, pf in sorted(prefix.items()))
    out = [f'<?xml version="1.0"?>\n<rdf:RDF {decl}>\n']
    for s, p, o in triples:
        ns, local = _split_iri(p)
        el = f"{prefix[ns]}:{local}"
        if o.startswith('"'):
            lex, lang, dt = _literal_parts(o)
            attr = f' xml:lang="{lang}"' if lang else f' rdf:datatype="{dt}"' if dt else ""
            prop = f"<{el}{attr}>{lex}</{el}>"
        else:
            prop = f'<{el} rdf:resource="{o}"/>'
        out.append(f'  <rdf:Description rdf:about="{s}">{prop}</rdf:Description>\n')
    out.append("</rdf:RDF>\n")
    return "".join(out)


def corpus_rdf_files(corpus: CodeCorpus, files_per_repo: int) -> tuple[list[RdfFile], list[tuple]]:
    """The corpus's statements written as RDF files: each repository's
    statements split round-robin over ``files_per_repo`` files, formats
    rotating Turtle / N-Triples / RDF-XML.  Returns the files and the
    quads they state, graph = ``file:///<name>``."""
    by_repo: dict[str, list[tuple]] = {}
    for s, p, o, g in corpus.quads:
        by_repo.setdefault(g, []).append((s, p, o))
    files, quads = [], []
    for r, (g, triples) in enumerate(sorted(by_repo.items())):
        slug = g[len("repo:///"):].replace("/", "_")
        for k in range(files_per_repo):
            fmt = RDF_FORMATS[(r + k) % len(RDF_FORMATS)]
            part = triples[k::files_per_repo]
            name = f"{slug}_{k}.{fmt}"
            files.append(RdfFile(name, fmt, part, _render(fmt, part)))
            quads += [(s, p, o, "file:///" + name) for s, p, o in part]
    return files, quads


def rdf_files(seed: int, n_files: int, triples_per_file: int, prefix: str = "g",
              formats: tuple[str, ...] = RDF_FORMATS) -> list[RdfFile]:
    """Files of ``formats`` in rotation, one named graph per file.
    Statements are drawn with replacement, so a file may state a triple
    twice, as real files do."""
    rng = random.Random(seed * 7919 + 17)
    out = []
    for i in range(n_files):
        fmt = formats[i % len(formats)]
        name = f"{prefix}{i:03d}.{fmt}"
        triples = _rdf_triples(rng, f"{prefix}{i}", triples_per_file)
        out.append(RdfFile(name, fmt, triples, _render(fmt, triples)))
    return out


def write_rdf_files(files: list[RdfFile], directory: str) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = []
    for f in files:
        p = os.path.join(directory, f.name)
        with open(p, "w") as fh:
            fh.write(f.text)
        paths.append(p)
    return paths


def insert_data_triples(rng: random.Random, tag: str, n: int) -> list[tuple]:
    return _rdf_triples(rng, tag, n)


def insert_data_update(graph: str, triples: list[tuple]) -> str:
    body = " ".join(f"{_nt_term(s)} <{p}> {_nt_term(o)} ." for s, p, o in triples)
    return f"INSERT DATA {{ GRAPH <{graph}> {{ {body} }} }}"


# --------------------------------------------------------------------------
# query list (query_mix, update_mix readers)


@dataclass
class Query:
    qid: int
    cls: str
    form: str                      # select | ask | construct | describe
    fmt: str                       # csv | tsv | json | xml | nt
    sparql: str
    sql: str                       # DuckDB over table {T}(s, p, o)
    ordered: bool                  # compare as a list (ORDER BY) or a multiset


_P = f"PREFIX code: <{CODE}> "


def query_list(corpus: CodeCorpus, seed: int, n: int = 108) -> list[Query]:
    """``n`` queries cycling the twelve classes.  Constants are drawn
    Zipf over modules and uniformly over repos, files and functions.
    SELECT and ASK output rotates CSV, TSV, JSON and XML; CONSTRUCT and
    DESCRIBE output is N-Triples.  Every LIMIT has an ORDER BY over
    all projected variables, so its answer is unique."""
    rng = random.Random(seed * 104729 + 3)
    w = zipf_weights(len(corpus.modules))
    called = sorted(corpus.callers)
    out = []
    for qid in range(n):
        cls = QUERY_CLASSES[qid % len(QUERY_CLASSES)]
        fmt = SELECT_FORMATS[qid % len(SELECT_FORMATS)]
        mod = rng.choices(corpus.modules, weights=w)[0]
        repo = ENT + "repo/" + rng.choice(corpus.repos)
        f = rng.choice(corpus.files)
        fn = rng.choice(corpus.fns)
        ordered, form = False, "select"
        if cls == "point":
            sparql = f"SELECT ?lang ?commit WHERE {{ <{f}> code:lang ?lang ; code:commit ?commit }}"
            sql = (f"SELECT a.o, b.o FROM {{T}} a JOIN {{T}} b ON a.s = b.s WHERE a.s = '{f}' "
                   f"AND a.p = '{CODE}lang' AND b.p = '{CODE}commit'")
        elif cls == "ask":
            form = "ask"
            if rng.random() < 0.5:
                mod = rng.choice(corpus.file_imports[f])
            sparql = f"ASK {{ <{f}> code:imports <{mod}> }}"
            sql = (f"SELECT count(*) > 0 FROM {{T}} WHERE s = '{f}' AND p = '{CODE}imports' "
                   f"AND o = '{mod}'")
        elif cls == "star":
            ordered = True
            sparql = (f"SELECT ?f ?lang ?sha WHERE {{ ?f code:inRepo <{repo}> ; code:lang ?lang ; "
                      f"code:sha256 ?sha }} ORDER BY ?f ?lang ?sha LIMIT 20")
            sql = (f"SELECT a.s, b.o, c.o FROM {{T}} a JOIN {{T}} b ON a.s = b.s "
                   f"JOIN {{T}} c ON a.s = c.s WHERE a.p = '{CODE}inRepo' AND a.o = '{repo}' "
                   f"AND b.p = '{CODE}lang' AND c.p = '{CODE}sha256' "
                   f"ORDER BY a.s, b.o, c.o LIMIT 20")
        elif cls == "hub_join":
            ordered = True
            sparql = (f"SELECT ?f ?fn WHERE {{ ?f code:imports <{mod}> . ?fn code:definedIn ?f }} "
                      f"ORDER BY ?f ?fn LIMIT 50")
            sql = (f"SELECT a.s, b.s FROM {{T}} a JOIN {{T}} b ON b.o = a.s "
                   f"WHERE a.p = '{CODE}imports' AND a.o = '{mod}' AND b.p = '{CODE}definedIn' "
                   f"ORDER BY a.s, b.s LIMIT 50")
        elif cls == "two_hop":
            sparql = f"SELECT ?b ?c WHERE {{ <{fn}> code:calls ?b . ?b code:calls ?c }}"
            sql = (f"SELECT a.o, b.o FROM {{T}} a JOIN {{T}} b ON b.s = a.o WHERE a.s = '{fn}' "
                   f"AND a.p = '{CODE}calls' AND b.p = '{CODE}calls'")
        elif cls == "agg":
            ordered = True
            if (qid // len(QUERY_CLASSES)) % 2 == 0:
                sparql = ("SELECT ?m (COUNT(?f) AS ?n) WHERE { ?f code:imports ?m } "
                          "GROUP BY ?m ORDER BY DESC(?n) ?m LIMIT 10")
                sql = (f"SELECT o, count(*) AS n FROM {{T}} WHERE p = '{CODE}imports' "
                       f"GROUP BY o ORDER BY n DESC, o LIMIT 10")
            else:
                sparql = "SELECT (COUNT(?r) AS ?n) WHERE { ?r a code:Repository }"
                sql = (f"SELECT count(*) FROM {{T}} WHERE p = '{RDF_TYPE}' "
                       f"AND o = '{CODE}Repository'")
        elif cls == "filter_order":
            ordered = True
            sparql = (f"SELECT ?f ?lang WHERE {{ ?f code:inRepo <{repo}> ; code:lang ?lang . "
                      f'FILTER(?lang != "python") }} ORDER BY DESC(?f) ?lang LIMIT 10')
            sql = (f"SELECT a.s, b.o FROM {{T}} a JOIN {{T}} b ON a.s = b.s "
                   f"WHERE a.p = '{CODE}inRepo' AND a.o = '{repo}' AND b.p = '{CODE}lang' "
                   f"AND b.o <> '\"python\"' ORDER BY a.s DESC, b.o LIMIT 10")
        elif cls == "optional":
            ordered = True
            sparql = (f"SELECT ?fn ?callee WHERE {{ ?fn code:definedIn <{f}> . "
                      f"OPTIONAL {{ ?fn code:calls ?callee }} }} ORDER BY ?fn ?callee")
            sql = (f"SELECT a.s, b.o FROM {{T}} a LEFT JOIN {{T}} b ON b.s = a.s "
                   f"AND b.p = '{CODE}calls' WHERE a.p = '{CODE}definedIn' AND a.o = '{f}' "
                   f"ORDER BY a.s, b.o NULLS FIRST")
        elif cls == "path_fixed":
            if qid % 2 == 0:
                sparql = f"SELECT ?x WHERE {{ <{fn}> code:calls/code:definedIn ?x }}"
                sql = (f"SELECT b.o FROM {{T}} a JOIN {{T}} b ON b.s = a.o WHERE a.s = '{fn}' "
                       f"AND a.p = '{CODE}calls' AND b.p = '{CODE}definedIn'")
            else:
                target = rng.choice(called)
                sparql = f"SELECT ?x WHERE {{ <{target}> ^code:calls ?x }}"
                sql = f"SELECT s FROM {{T}} WHERE o = '{target}' AND p = '{CODE}calls'"
        elif cls == "path_closure":
            ordered = True
            sparql = f"SELECT ?x WHERE {{ <{fn}> code:calls+ ?x }} ORDER BY ?x"
            sql = (f"WITH RECURSIVE r(x) AS (SELECT o FROM {{T}} WHERE s = '{fn}' "
                   f"AND p = '{CODE}calls' UNION SELECT t.o FROM r JOIN {{T}} t "
                   f"ON t.s = r.x AND t.p = '{CODE}calls') SELECT x FROM r ORDER BY x")
        elif cls == "construct":
            form, fmt = "construct", "nt"
            sparql = (f"CONSTRUCT {{ ?f code:imports <{mod}> }} WHERE {{ ?f code:imports <{mod}> ; "
                      f"code:inRepo <{repo}> }}")
            sql = (f"SELECT DISTINCT a.s, a.p, a.o FROM {{T}} a JOIN {{T}} b ON a.s = b.s "
                   f"WHERE a.p = '{CODE}imports' AND a.o = '{mod}' AND b.p = '{CODE}inRepo' "
                   f"AND b.o = '{repo}'")
        else:  # describe
            form, fmt = "describe", "nt"
            sparql = f"DESCRIBE <{fn}>"
            sql = f"SELECT DISTINCT s, p, o FROM {{T}} WHERE s = '{fn}'"
        out.append(Query(qid, cls, form, fmt, _P + sparql, sql, ordered))
    return out
