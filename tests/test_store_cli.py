"""Whole-graph add/drop semantics (reference src/serve.rs:818-960) and
the CLI verb surface."""

import os

import pytest

from de_spark import store
from de_spark.pipeline import build
from de_spark.query import sparql_select, to_csv
from de_spark.sources.nt import triples_from_nt_text
from de_spark.sources.turtle import parse_turtle
from tests.fixtures import BANANA_NT, PINEAPPLE_TTL, QUERY_COLOR_RQ


def _pineapple_raw(spark):
    data = [
        (s, p, o, "file:///pineapple.hdt")
        for s, p, o in parse_turtle(PINEAPPLE_TTL)
    ]
    return spark.createDataFrame(data, ["s", "p", "o", "graph"])


def _uids(kg):
    return {r["term"]: r["uid"] for r in kg.term_uids.collect()}


def _assert_uid_invariants(kg, pre: dict):
    """One uid per term, uids unique, every pre-add term keeps its uid,
    every new uid is above the pre-add max (uids are not dense)."""
    rows = [(r["term"], r["uid"]) for r in kg.term_uids.collect()]
    uids = dict(rows)
    assert len(uids) == len(rows)
    assert len(set(uids.values())) == len(uids)
    assert {t: uids[t] for t in pre} == pre
    assert all(u > max(pre.values()) for t, u in uids.items() if t not in pre)


def test_add_and_drop_graph(spark, tmp_path):
    base = str(tmp_path / "store")
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    build(raw, base)

    kg = store.load(spark, base)
    pre = _uids(kg)
    assert to_csv(sparql_select(kg, QUERY_COLOR_RQ)).splitlines()[1:] == [
        "http://example.org/Banana"
    ]

    # add a NEW graph → union answers both
    store.add_graph(spark, base, _pineapple_raw(spark))
    kg = store.load(spark, base)
    out = to_csv(sparql_select(kg, QUERY_COLOR_RQ)).replace("\r", "").splitlines()
    assert out[1:] == ["http://example.org/Pineapple", "http://example.org/Banana"]

    # uid invariants after append: unique, old uids unchanged
    _assert_uid_invariants(kg, pre)
    assert len(_uids(kg)) > len(pre)
    assert not os.path.exists(f"{base}/{store._STAGING}")

    # encoded triples still decode to the exact union triple set
    from de_spark.encode import decode_triples

    decoded = {
        (r["s"], r["p"], r["o"]) for r in decode_triples(kg.triples, kg.term_uids).collect()
    }
    expected = {(r["s"], r["p"], r["o"]) for r in raw.collect()} | {
        (r["s"], r["p"], r["o"]) for r in _pineapple_raw(spark).collect()
    }
    assert decoded == expected

    # inserting into an existing graph is refused (immutability)
    with pytest.raises(store.GraphExistsError):
        store.add_graph(spark, base, _pineapple_raw(spark))

    # drop → back to banana only
    assert store.drop_graph(spark, base, "file:///pineapple.hdt") is True
    kg = store.load(spark, base)
    out = to_csv(sparql_select(kg, QUERY_COLOR_RQ)).replace("\r", "").splitlines()
    assert out[1:] == ["http://example.org/Banana"]
    assert store.drop_graph(spark, base, "file:///nope.hdt") is False


def test_predicate_cardinalities_follow_add_and_drop(spark, tmp_path, in_job_group):
    """pred_stats is published with an add and rewritten by a drop: a
    predicate's cardinality equals its decoded triple count.  The
    counts are collected once per loaded graph."""
    from de_spark.encode import decode_triples

    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)

    seen: set[str] = set()

    def check():
        kg = store.load(spark, base)
        counts: dict[str, int] = {}
        for r in decode_triples(kg.triples, kg.term_uids).collect():
            counts[r["p"]] = counts.get(r["p"], 0) + 1
        seen.update(counts)
        uids = kg.lookup(seen)
        cards = kg.predicate_cardinalities()
        assert {p: cards.get(uids[p], 0) for p in seen} == {p: counts.get(p, 0) for p in seen}
        again, jobs = in_job_group(f"pred_cards_{id(kg)}", kg.predicate_cardinalities)
        assert again == cards
        assert jobs == 0
        return counts

    before = check()
    store.add_graph(spark, base, _pineapple_raw(spark))
    assert check() != before
    assert store.drop_graph(spark, base, "file:///banana.hdt") is True
    check()


def test_sync_dir(spark, tmp_path):
    """S8 directory sync: new file → new graph; removed file → graph
    dropped (reference src/sparql.rs:235-294)."""
    import os

    rdf_dir = tmp_path / "rdf"
    os.makedirs(rdf_dir)
    (rdf_dir / "banana.nt").write_text(BANANA_NT)
    base = str(tmp_path / "store")
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.nt")
    build(raw, base)

    # in sync: nothing changes
    assert store.sync_dir(spark, base, str(rdf_dir)) == ([], [])

    # add a file → new graph appears
    (rdf_dir / "pineapple.ttl").write_text(PINEAPPLE_TTL)
    added, dropped = store.sync_dir(spark, base, str(rdf_dir))
    assert added == ["file:///pineapple.ttl"] and dropped == []
    kg = store.load(spark, base)
    assert kg.pattern(graph="file:///pineapple.ttl").count() == 12

    # remove the original file → its graph is dropped
    os.remove(rdf_dir / "banana.nt")
    added, dropped = store.sync_dir(spark, base, str(rdf_dir))
    assert added == [] and dropped == ["file:///banana.nt"]
    kg = store.load(spark, base)
    assert {r["graph"] for r in kg.stats.collect()} == {"file:///pineapple.ttl"}


def test_file_names_with_space_percent_plus(spark, tmp_path):
    """Every format names a file's graph ``file:///<name>`` with the
    name as it is on disk, so sync_dir sees the files as registered."""
    from de_spark.sources.nt import graph_iri_for_file
    from de_spark.sources.router import read_rdf
    from tests.fixtures import APPLE_RDFXML

    rdf_dir = tmp_path / "rdf"
    os.makedirs(rdf_dir)
    files = {"n x+y%.nt": BANANA_NT, "t x+y%.ttl": PINEAPPLE_TTL, "r x+y%.rdf": APPLE_RDFXML}
    for name, text in files.items():
        (rdf_dir / name).write_text(text)
    raw, unhandled, _ = read_rdf(spark, [str(rdf_dir / n) for n in files])
    assert unhandled == []
    graphs = {r["graph"] for r in raw.select("graph").distinct().collect()}
    assert graphs == {graph_iri_for_file(n) for n in files} == {
        "file:///n x+y%.nt", "file:///t x+y%.ttl", "file:///r x+y%.rdf"
    }
    base = str(tmp_path / "store")
    build(raw, base)
    assert store.sync_dir(spark, base, str(rdf_dir)) == ([], [])


def test_store_load_runs_no_job(spark, fruit_store, in_job_group):
    """Every store table is read with its declared schema: loading a
    store infers nothing from Parquet footers and runs no Spark job.
    The declared schemas are those the build writes (names, order and
    types; nullability aside)."""
    from pyspark.sql.types import StructType

    from de_spark.graph import SCHEMAS

    kg, jobs = in_job_group("store_load", lambda: store.load(spark, fruit_store))
    assert jobs == 0
    assert kg.triples.columns == ["s_id", "p_id", "o_id", "graph"]

    def fields(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    for table, ddl in SCHEMAS.items():
        written = spark.read.parquet(f"{fruit_store}/{table}").schema
        assert fields(written) == fields(StructType.fromDDL(ddl)), table


def test_term_dictionary_is_collected_once_per_store_snapshot(
    spark, tmp_path, in_job_group, monkeypatch
):
    """The first requests on a store snapshot, even concurrent ones on
    one loaded graph and on fresh loads of the store, read the
    term_uids files once, on the driver, with no Spark job; every later
    lookup and request on that loaded graph, and on later loads of the
    unchanged store, reads nothing and runs no lookup job."""
    import sys
    import threading

    from de_spark import graph as graph_mod

    reads = []
    read_terms = graph_mod._read_terms

    def counting(files):
        reads.append(files)
        return read_terms(files)

    monkeypatch.setattr(graph_mod, "_read_terms", counting)
    ex = "http://example.org/"
    base = str(tmp_path / "st ore")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)
    kg = store.load(spark, base)
    sc = spark.sparkContext
    group = f"held_first_{id(kg)}"
    found = []

    def first(k):
        sc.setJobGroup(group, group)
        graph = kg if k % 2 else store.load(spark, base)
        found.append(graph.lookup([f"{ex}Banana"])[f"{ex}Banana"])

    threads = [threading.Thread(target=first, args=(k,)) for k in range(2 * os.cpu_count())]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(found) == len(threads) and len(set(found)) == 1 and None not in found
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert len(reads) == 1
    uids, jobs = in_job_group(f"held_again_{id(kg)}", lambda: kg.lookup([f"{ex}Banana", f"{ex}Nope"]))
    assert jobs == 0
    assert uids[f"{ex}Banana"] is not None and uids[f"{ex}Nope"] is None
    q = f"SELECT ?x WHERE {{ ?x <{ex}hasColor> <{ex}Nope> }}"
    to_csv(sparql_select(kg, q))  # the first request also collects pred_stats
    csv, jobs = in_job_group(f"held_request_{id(kg)}", lambda: to_csv(sparql_select(kg, q)))
    assert (csv, jobs) == ("x", 0)
    again, jobs = in_job_group(
        f"held_reload_{id(kg)}", lambda: store.load(spark, base).lookup([f"{ex}Banana"])
    )
    assert (again, jobs) == ({f"{ex}Banana": uids[f"{ex}Banana"]}, 0)
    assert len(reads) == 1
    empty = read_terms(())
    assert empty.num_rows == 0 and empty.schema == kg.term_table().schema


def test_cached_term_uids_refuses_the_held_dictionary(spark, tmp_path):
    """A cached term_uids frame lists no files, so the dictionary held
    for it would be empty and every constant would miss: the first
    lookup raises instead."""
    from dataclasses import replace

    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)
    cached = store.load(spark, base).term_uids.cache()
    try:
        kg = replace(store.load(spark, base), term_uids=cached)
        with pytest.raises(ValueError, match="cached"):
            kg.lookup(["http://example.org/Banana"])
    finally:
        cached.unpersist()


def test_held_dictionary_is_a_snapshot_of_its_load(spark, tmp_path):
    """A term INSERT DATA adds resolves in a graph loaded after the
    update; a graph loaded before it, holding its dictionary already or
    not yet, keeps its own snapshot."""
    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)
    new = ["http://x/new", '"fresh"']
    held = store.load(spark, base)
    held.lookup(["http://x/any"])
    listed = store.load(spark, base)
    store.execute_update(spark, base, 'INSERT DATA { GRAPH <http://g/new> { <http://x/new> <http://example.org/hasColor> "fresh" } }')
    fresh = store.load(spark, base)
    assert None not in fresh.lookup(new).values()
    assert held.lookup(new) == {t: None for t in new}
    assert listed.lookup(new) == {t: None for t in new}


def test_held_lookup_resolves_as_a_term_scan(spark, tmp_path):
    """Absent terms, escaped literals and non-ASCII literals resolve in
    the held dictionary exactly as a ``term IN (…)`` scan of term_uids
    resolves them."""
    from pyspark.sql import functions as F

    ttl = PINEAPPLE_TTL + r"""
    ex:Pineapple ex:label 'it\'s', "caf\u00e9", "café", "say \"hi\"", "tab\there",
        "日本"@ja, '''two
lines''' .
    """
    data = [(s_, p, o, "file:///p.ttl") for s_, p, o in parse_turtle(ttl)]
    base = str(tmp_path / "store")
    build(spark.createDataFrame(data, ["s", "p", "o", "graph"]), base)
    kg = store.load(spark, base)
    stored = [r["term"] for r in kg.term_uids.collect()]
    assert {'"café"', '"caf\\u00e9"', '"日本"@ja', '"two\\nlines"'} <= set(stored)
    probes = stored + [
        "http://example.org/Nope", '"nope"', '"café"@fr', '"cafe\u0301"', '"caf\\u00E9"', "",
    ]
    found = {r["term"]: r["uid"] for r in kg.term_uids.where(F.col("term").isin(probes)).collect()}
    assert kg.lookup(probes) == {t: found.get(t) for t in probes}


def test_dict_decodes_after_add_and_drop(spark, tmp_path):
    """The string-free dict stays consistent with term_uids through an
    add and a drop: every dict row decodes, and the kept graph's
    sections equal those of a fresh build of that graph."""
    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)
    store.add_graph(spark, base, _pineapple_raw(spark))
    assert store.drop_graph(spark, base, "file:///banana.hdt") is True
    kg = store.load(spark, base)
    fresh, _ = build(_pineapple_raw(spark), str(tmp_path / "fresh"))

    def sections(k):
        return sorted(
            (r["graph"], r["term"], r["section"], r["sec_id"]) for r in k.sections().collect()
        )

    assert kg.sections().count() == kg.dict_df.count()
    assert sections(kg) == sections(fresh)


def test_cli_create_view_query(spark, tmp_path, capsys):
    import os

    from de_spark import cli

    rdf_dir = tmp_path / "rdf"
    os.makedirs(rdf_dir)
    (rdf_dir / "banana.nt").write_text(BANANA_NT)
    (rdf_dir / "pineapple.ttl").write_text(PINEAPPLE_TTL)
    (rdf_dir / "q.rq").write_text(QUERY_COLOR_RQ)
    out_dir = str(tmp_path / "kg")

    assert cli.main(["create", "-o", out_dir, "-d", str(rdf_dir / "banana.nt"), str(rdf_dir / "pineapple.ttl")]) == 0
    capsys.readouterr()

    assert cli.main(["view", "-d", out_dir]) == 0
    view_out = capsys.readouterr().out
    assert "triples: 12" in view_out and "graph: file:///banana.nt" in view_out

    assert cli.main(["query", "-d", out_dir, "-s", str(rdf_dir / "q.rq"), "-o", "csv"]) == 0
    q_out = capsys.readouterr().out.replace("\r", "").strip()
    assert q_out.splitlines() == [
        "fruit",
        "http://example.org/Pineapple",
        "http://example.org/Banana",
    ]


@pytest.fixture(scope="module")
def fruit_store(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cli_store") / "kg")
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    build(raw.unionByName(_pineapple_raw(spark)), base)
    return base


def _cli_query(store_dir, tmp_path, capsys, fmt, *queries):
    """(stdout, stderr) of ``de_spark query`` over ``queries`` (texts),
    one file each."""
    from de_spark import cli

    files = []
    for i, q in enumerate(queries):
        files.append(str(tmp_path / f"q{i}.rq"))
        with open(files[-1], "w") as f:
            f.write(q)
    capsys.readouterr()
    assert cli.main(["query", "-d", store_dir, "-s", *files, "-o", fmt]) == 0
    return capsys.readouterr()


EX = "PREFIX ex: <http://example.org/>\n"


def test_cli_routes_by_parsed_form_not_words(fruit_store, tmp_path, capsys):
    """A SELECT that holds the word DESCRIBE in a literal or an IRI is a
    SELECT: the form comes from the parser, not a text search."""
    out, _ = _cli_query(
        fruit_store, tmp_path, capsys, "csv",
        EX + 'SELECT ?c WHERE { ex:Banana ex:hasColor ?c FILTER(?c != "describe") }',
        EX + "SELECT ?f WHERE { ?f ex:hasColor ?c FILTER(?f != <http://x/describe>) }"
        " ORDER BY ?f",
    )
    assert out.replace("\r", "").splitlines() == [
        "c",
        "yellow",
        "f",
        "http://example.org/Banana",
        "http://example.org/Pineapple",
    ]


def test_cli_format_falls_back_per_query(fruit_store, tmp_path, capsys):
    """``-o ttl`` over a SELECT then a CONSTRUCT: the SELECT falls back
    to CSV with a warning, and the CONSTRUCT still gets Turtle."""
    out, err = _cli_query(
        fruit_store, tmp_path, capsys, "ttl",
        EX + "SELECT ?c WHERE { ex:Banana ex:hasColor ?c }",
        EX + "CONSTRUCT { ?f ex:c ?c ; ex:s ?s } "
        "WHERE { ?f ex:hasColor ?c ; ex:hasShape ?s FILTER(?f = ex:Banana) }",
    )
    assert out.replace("\r", "") == (
        "c\nyellow\n"
        '<http://example.org/Banana> <http://example.org/c> "yellow" ;\n'
        '    <http://example.org/s> "curved" .\n'
    )
    assert err.count("warning: -o ttl requires CONSTRUCT/DESCRIBE; using csv") == 1


def test_cli_ask(fruit_store, tmp_path, capsys):
    ask = EX + 'ASK { ?f ex:hasColor "yellow" }'
    assert _cli_query(fruit_store, tmp_path, capsys, "csv", ask).out == "true\n"
    assert _cli_query(fruit_store, tmp_path, capsys, "json", ask).out == (
        '{"head":{},"boolean":true}\n'
    )


def test_torn_add_recovers_without_duplicates(spark, tmp_path):
    """ADVICE r2: a crash mid-add_graph (some tables appended, stats
    registration not yet written) must roll back on the next mutation,
    so a LOAD / INSERT DATA re-run after the crash re-adds without
    duplicating dict/triples rows.  Simulated by restoring the
    write-ahead marker after a completed add — recovery must undo the
    whole transaction."""
    import json
    import os

    base = str(tmp_path / "store")
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    build(raw, base)

    # snapshot pre-add state (what a torn add must roll back to)
    pre_uids = _uids(store.load(spark, base))
    pre_manifest = {t: store._list_files(base, t) for t in store._ADD_TABLES}
    pre_counts = {
        t: spark.read.parquet(f"{base}/{t}").count()
        for t in ("term_uids", "dict", "stats", "triples")
    }

    # perform the add, then re-create the marker as if the crash hit
    # AFTER the dict/triples appends but BEFORE the commit point
    store.add_graph(spark, base, _pineapple_raw(spark))
    with open(f"{base}/{store._PENDING}", "w") as f:
        json.dump(
            {"graphs": ["file:///pineapple.hdt"], "manifest": pre_manifest}, f
        )

    # replayed batch: recovery undoes the torn txn, the add runs clean
    store.add_graph(spark, base, _pineapple_raw(spark))
    assert not os.path.exists(f"{base}/{store._PENDING}")

    kg = store.load(spark, base)
    # no duplicate rows anywhere: uid invariants + exact decoded triple set
    _assert_uid_invariants(kg, pre_uids)
    from de_spark.encode import decode_triples

    decoded = [
        (r["graph"], r["s"], r["p"], r["o"])
        for r in decode_triples(kg.triples, kg.term_uids).select("graph", "s", "p", "o").collect()
    ]
    assert len(decoded) == len(set(decoded))  # no duplicated (graph, triple)
    assert kg.stats.where("graph = 'file:///pineapple.hdt'").count() == 1

    # rollback-only path: torn marker with NO replay → load() restores
    # the pre-add snapshot
    assert store.drop_graph(spark, base, "file:///pineapple.hdt") is True
    post_counts = {
        t: spark.read.parquet(f"{base}/{t}").count()
        for t in ("stats", "triples")
    }
    assert post_counts["stats"] == pre_counts["stats"]
    assert post_counts["triples"] == pre_counts["triples"]


def test_sparql_update_surface(spark, tmp_path):
    """SPARQL UPDATE strings with the reference's refusal semantics
    (src/serve.rs:783-1121; HTTP tests tests/test-server.rs:203-237):
    INSERT DATA only into NEW graphs, DELETE forms forbidden,
    CLEAR/DROP named graphs, two-phase validation (a refused op leaves
    the store untouched)."""
    from de_spark.query.update import UpdateRefusedError

    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)

    # a repeated triple is stored once (RDF set semantics)
    store.execute_update(
        spark,
        base,
        'INSERT DATA { GRAPH <file:///twice.hdt> { <http://x/a> <http://x/p> "v" . '
        '<http://x/a> <http://x/p> "v" . <http://x/a> <http://x/p> "w" } }',
    )
    kg = store.load(spark, base)
    n = sparql_select(
        kg, "SELECT (COUNT(*) AS ?n) WHERE { GRAPH <file:///twice.hdt> { ?s ?p ?o } }"
    ).collect()[0][0]
    assert int(n) == 2
    assert kg.stats.where("graph = 'file:///twice.hdt'").collect()[0]["triples"] == 2

    # INSERT DATA into a new named graph (prefixed names + typed literal)
    log = store.execute_update(
        spark,
        base,
        """
        PREFIX ex: <http://example.org/>
        INSERT DATA {
          GRAPH <file:///cherry.hdt> {
            ex:Cherry a ex:Fruit ; ex:hasColor "red" ; ex:count 3 .
          }
        }
        """,
    )
    assert any("INSERT DATA: 3 triples" in l for l in log)
    kg = store.load(spark, base)
    got = {
        r["f"].rsplit("/", 1)[1]
        for r in sparql_select(
            kg, "SELECT ?f WHERE { ?f a <http://example.org/Fruit> }"
        ).collect()
    }
    assert got == {"Banana", "Cherry"}

    # inserting into the (now existing) graph is refused
    with pytest.raises(UpdateRefusedError, match="already exists"):
        store.execute_update(
            spark,
            base,
            'INSERT DATA { GRAPH <file:///cherry.hdt> { <http://x/a> <http://x/p> "v" } }',
        )
    # default-graph insert is refused
    with pytest.raises(UpdateRefusedError, match="default graph"):
        store.execute_update(
            spark, base, 'INSERT DATA { <http://x/a> <http://x/p> "v" }'
        )
    # DELETE forms are refused at parse time (read-only, test-server.rs:203)
    with pytest.raises(UpdateRefusedError, match="DELETE DATA is not allowed"):
        store.execute_update(
            spark, base,
            'DELETE DATA { GRAPH <file:///cherry.hdt> { <http://x/a> <http://x/p> "v" } }',
        )
    with pytest.raises(UpdateRefusedError, match="DELETE/INSERT"):
        store.execute_update(
            spark, base, "DELETE { ?s ?p ?o } WHERE { ?s ?p ?o }"
        )
    # CREATE: error when the graph exists, fine (no-op) when new
    with pytest.raises(UpdateRefusedError, match="already exists"):
        store.execute_update(spark, base, "CREATE GRAPH <file:///cherry.hdt>")
    assert store.execute_update(spark, base, "CREATE SILENT GRAPH <file:///cherry.hdt>")
    assert store.execute_update(spark, base, "CREATE GRAPH <file:///new.hdt>")

    # DROP ALL / CLEAR DEFAULT targets are refused
    with pytest.raises(UpdateRefusedError, match="DROP ALL is not supported"):
        store.execute_update(spark, base, "DROP ALL")
    with pytest.raises(UpdateRefusedError, match="CLEAR DEFAULT is not supported"):
        store.execute_update(spark, base, "CLEAR DEFAULT")

    # two-phase validation: the failing second op prevents the first
    with pytest.raises(UpdateRefusedError, match="does not exist"):
        store.execute_update(
            spark,
            base,
            'INSERT DATA { GRAPH <file:///plum.hdt> { <http://x/a> <http://x/p> "v" } } ;\n'
            "DROP GRAPH <file:///nope.hdt>",
        )
    assert "file:///plum.hdt" not in store._graphs(spark, base)

    # DROP removes the graph; dropping again errors unless SILENT
    store.execute_update(spark, base, "DROP GRAPH <file:///cherry.hdt>")
    assert "file:///cherry.hdt" not in store._graphs(spark, base)
    with pytest.raises(UpdateRefusedError, match="does not exist"):
        store.execute_update(spark, base, "DROP GRAPH <file:///cherry.hdt>")
    assert store.execute_update(spark, base, "DROP SILENT GRAPH <file:///cherry.hdt>")


def test_sparql_update_load(spark, tmp_path):
    """LOAD <file> INTO GRAPH <g>: executes via the format router into
    a NEW named graph (the reference validates LOAD but leaves it
    unimplemented, src/serve.rs:1045-1061)."""
    import os

    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)
    src = tmp_path / "pineapple.ttl"
    src.write_text(PINEAPPLE_TTL)

    # bare LOAD (no INTO GRAPH) is refused
    from de_spark.query.update import UpdateRefusedError

    with pytest.raises(UpdateRefusedError, match="default graph"):
        store.execute_update(spark, base, f"LOAD <file://{src}>")

    log = store.execute_update(
        spark, base, f"LOAD <file://{src}> INTO GRAPH <file:///pine.hdt>"
    )
    assert any("LOAD" in l for l in log)
    kg = store.load(spark, base)
    rows = sparql_select(
        kg,
        'SELECT ?f WHERE { GRAPH <file:///pine.hdt> { ?f <http://example.org/hasColor> "yellow" } }',
    ).collect()
    assert [r["f"].rsplit("/", 1)[1] for r in rows] == ["Pineapple"]


def test_load_one_file_into_two_graphs_keeps_two_blank_nodes(spark, tmp_path):
    """A ``[ … ]`` node minted by LOAD belongs to its landing graph:
    the same file LOADed twice gives two nodes, not one shared node."""
    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)
    src = tmp_path / "anon.ttl"
    src.write_text('<http://x/a> <http://x/p> [ <http://x/q> "1" ] .')
    store.execute_update(
        spark,
        base,
        f"LOAD <file://{src}> INTO GRAPH <http://g/1> ; "
        f"LOAD <file://{src}> INTO GRAPH <http://g/2>",
    )
    kg = store.load(spark, base)
    q = "SELECT DISTINCT ?x WHERE { <http://x/a> <http://x/p> ?x }"
    assert sparql_select(kg, q).count() == 2


def test_cli_view_and_query_roll_back_a_torn_add(spark, tmp_path, capsys):
    """``view`` and ``query`` open a store through ``store.load``, so a
    torn add (the write-ahead marker still present) is rolled back
    before they read it: its half-published rows are never shown."""
    import json

    from de_spark import cli

    base = str(tmp_path / "store")
    build(triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt"), base)
    pre_manifest = {t: store._list_files(base, t) for t in store._ADD_TABLES}
    store.add_graph(spark, base, _pineapple_raw(spark))
    with open(f"{base}/{store._PENDING}", "w") as f:
        json.dump({"graphs": ["file:///pineapple.hdt"], "manifest": pre_manifest}, f)

    (tmp_path / "q.rq").write_text(QUERY_COLOR_RQ)
    capsys.readouterr()
    assert cli.main(["query", "-d", base, "-s", str(tmp_path / "q.rq"), "-o", "csv"]) == 0
    out = capsys.readouterr().out.replace("\r", "").split()
    assert out == ["fruit", "http://example.org/Banana"]
    assert not os.path.exists(f"{base}/{store._PENDING}")

    store.add_graph(spark, base, _pineapple_raw(spark))
    with open(f"{base}/{store._PENDING}", "w") as f:
        json.dump({"graphs": ["file:///pineapple.hdt"], "manifest": pre_manifest}, f)
    assert cli.main(["view", "-d", base]) == 0
    view = capsys.readouterr().out
    assert "graph: file:///banana.hdt" in view and "pineapple" not in view
