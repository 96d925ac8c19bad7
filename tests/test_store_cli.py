"""Whole-graph add/drop semantics (reference src/serve.rs:818-960) and
the CLI verb surface."""

import os

import pytest

from de_spark import store
from de_spark.pipeline import build
from de_spark.query import sparql_select, to_csv
from de_spark.sources.nt import triples_from_nt_text
from de_spark.sources.turtle import parse_turtle
from de_spark import terms
from tests.fixtures import BANANA_NT, PINEAPPLE_TTL, QUERY_COLOR_RQ


def _pineapple_raw(spark):
    data = [
        (s, p, o, terms.classify_py(o), "file:///pineapple.hdt")
        for s, p, o in parse_turtle(PINEAPPLE_TTL)
    ]
    return spark.createDataFrame(data, ["s", "p", "o", "o_kind", "graph"])


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


def test_predicate_cardinalities_follow_add_and_drop(spark, tmp_path):
    """pred_stats is published with an add and rewritten by a drop: a
    predicate's cardinality equals its decoded triple count."""
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
        cards = kg.predicate_cardinalities(sorted(seen))
        assert cards == {p: counts.get(p, 0) for p in seen}
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


def test_torn_add_recovers_without_duplicates(spark, tmp_path):
    """ADVICE r2: a crash mid-add_graph (some tables appended, stats
    registration not yet written) must roll back on the next mutation,
    so a replayed streaming batch re-adds without duplicating
    dict/triples rows.  Simulated by restoring the write-ahead marker
    after a completed add — recovery must undo the whole transaction."""
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
