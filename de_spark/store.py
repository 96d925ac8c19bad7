"""Whole-graph add/drop on a materialized KG store.

Mirrors the reference's mutation surface exactly (SURVEY.md §2.11):
HDT graphs are immutable — the server forbids DELETE DATA /
DELETE-INSERT (src/serve.rs:880-890) and only allows inserting into
NEW named graphs (src/serve.rs:818-849) and dropping whole graphs
(src/serve.rs:892-960, file removal src/sparql.rs:177-221).

Spark/Iceberg realization: the triples/dict/stats/pred_stats tables
are partitioned by graph (a directory per graph for triples, a graph
column for the rest), so

- ``add_graph``   = ``pipeline.build_stages`` of the new graphs into a
  staging dir — the one build path, so the added triples are distinct
  and VOID counts them — given the store's uid table, then a publish
  that moves the staged files into the store.  Existing terms keep
  their uids and new terms get uids above the store's max, so existing
  encoded triples stay valid.  Uids are unique and stable, not dense;
- ``drop_graph``  = drop the graph's partitions (dynamic partition
  overwrite semantics; stale uids for terms that only occurred in the
  dropped graph are harmless, like the reference's leftover side-car
  cache files, and are compacted away by a rebuild).

On Iceberg these appends/drops are snapshot commits
(``overwritePartitions``), giving the reference's per-request snapshot
semantics (AggregateHdt::get_snapshot, src/sparql.rs:78-118) as
time-travel.
"""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_spark.graph import KnowledgeGraph
from de_spark.pipeline import build_stages


class GraphExistsError(ValueError):
    """Reference behavior: inserting into an existing graph is refused
    (src/serve.rs:818-849)."""


def _graphs(spark: SparkSession, base_dir: str) -> set[str]:
    return {
        r["graph"]
        for r in spark.read.parquet(f"{base_dir}/stats").select("graph").collect()
    }


_PENDING = ".pending_add.json"
_STAGING = ".add_staging"
# graph-column tables an add appends files to (triples: per-graph dirs)
_ADD_TABLES = ("term_uids", "dict", "stats", "pred_stats")


def _list_files(base_dir: str, table: str) -> list[str]:
    root = f"{base_dir}/{table}"
    out = []
    for dirpath, _, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        for f in files:
            out.append(f if rel == "." else f"{rel}/{f}")
    return sorted(out)


def _graph_dirs(triples_dir: str) -> dict[str, str]:
    """graph IRI → its partition dir name under ``triples_dir`` (match
    by unescaping the dir names — Spark's partition-path escaping is not
    exactly urllib's quote)."""
    if not os.path.isdir(triples_dir):
        return {}
    return {
        unquote(d[len("graph="):]): d
        for d in os.listdir(triples_dir)
        if d.startswith("graph=")
    }


def _recover_pending(base_dir: str) -> None:
    """Undo a torn ``add_graph``: the write-ahead marker records the
    pre-existing files of every appended table; any file not in that
    manifest was published by the interrupted transaction and is removed
    (triples partitions of the pending graphs are dropped whole), and
    the staging dir goes too.  The marker is written once the staged
    build is complete (before it the store itself is untouched) and its
    removal is the COMMIT POINT — a crash anywhere before it rolls the
    store back to the pre-add snapshot, so a replayed streaming batch
    re-runs ``add_graph`` against clean state instead of duplicating
    dict/triples rows."""
    marker = f"{base_dir}/{_PENDING}"
    if not os.path.exists(marker):
        return
    with open(marker) as f:
        txn = json.load(f)
    for table in _ADD_TABLES:
        keep = set(txn["manifest"][table])
        root = f"{base_dir}/{table}"
        for rel in _list_files(base_dir, table):
            if rel not in keep:
                os.remove(os.path.join(root, rel))
    tdir = f"{base_dir}/triples"
    pending = set(txn["graphs"])
    for g, d in _graph_dirs(tdir).items():
        if g in pending:
            shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
    shutil.rmtree(f"{base_dir}/{_STAGING}", ignore_errors=True)
    os.remove(marker)


def add_graph(spark: SparkSession, base_dir: str, triples_raw: DataFrame) -> None:
    """Append new named graph(s) to a materialized store.

    Every graph in ``triples_raw`` must be new (GraphExistsError
    otherwise).  The graphs are built into ``<store>/.add_staging`` by
    the same stages as ``pipeline.build`` — reading ``triples_raw``
    once — against the store's uid table, then published: the staged
    parquet files of term_uids/dict/stats/pred_stats and the staged
    ``triples/graph=*`` dirs move into the store (the staging dir's
    triples_raw and every ``_manifest.json`` / ``_SUCCESS`` stay
    behind).  The publish is journaled: a write-ahead marker + file
    manifest makes a torn add roll back on the next mutation (see
    ``_recover_pending``), so foreachBatch replays are exactly-once.
    """
    _recover_pending(base_dir)
    staging = f"{base_dir}/{_STAGING}"
    shutil.rmtree(staging, ignore_errors=True)
    build_stages(triples_raw, staging, base_uids=spark.read.parquet(f"{base_dir}/term_uids"))
    staged = _graph_dirs(f"{staging}/triples")
    clash = set(staged) & _graphs(spark, base_dir)
    if clash:
        shutil.rmtree(staging, ignore_errors=True)
        raise GraphExistsError(f"graphs already exist (immutable): {sorted(clash)}")

    marker = f"{base_dir}/{_PENDING}"
    txn = {
        "graphs": sorted(staged),
        "manifest": {t: _list_files(base_dir, t) for t in _ADD_TABLES},
    }
    tmp_marker = marker + ".tmp"
    with open(tmp_marker, "w") as f:
        json.dump(txn, f)
    os.replace(tmp_marker, marker)
    for table in _ADD_TABLES:
        os.makedirs(f"{base_dir}/{table}", exist_ok=True)
        for name in os.listdir(f"{staging}/{table}"):
            if name.endswith(".parquet"):
                os.rename(f"{staging}/{table}/{name}", f"{base_dir}/{table}/{name}")
    for d in staged.values():
        os.rename(f"{staging}/triples/{d}", f"{base_dir}/triples/{d}")
    shutil.rmtree(staging, ignore_errors=True)
    os.remove(marker)  # COMMIT: the add is durable only past this point


def drop_graph(spark: SparkSession, base_dir: str, graph: str) -> bool:
    """Remove a named graph (whole-graph drop, src/sparql.rs:177-221).

    Returns False if the graph is not registered.  With Iceberg this is
    one ``DELETE WHERE graph = …`` snapshot commit; on the parquet
    layout it rewrites the unaffected partitions of the unpartitioned
    tables and drops the graph's partition dir from triples.
    """
    _recover_pending(base_dir)
    if graph not in _graphs(spark, base_dir):
        return False
    # triples: partitioned by graph → drop the partition directory
    tdir = f"{base_dir}/triples"
    d = _graph_dirs(tdir).get(graph)
    if d is not None:
        shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
    # dict/stats/pred_stats: rewrite without the graph, staged through a temp dir
    # then atomically renamed — an in-place overwrite would delete the
    # source files mid-read (a lost cached partition after the delete
    # would corrupt the table; Iceberg gets this for free via snapshot
    # commits, the parquet stand-in must stage explicitly)
    for table in ("dict", "stats", "pred_stats"):
        final = f"{base_dir}/{table}"
        tmp = f"{base_dir}/.{table}.staging"
        old = f"{base_dir}/.{table}.old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        spark.read.parquet(final).where(F.col("graph") != graph).write.mode(
            "overwrite"
        ).parquet(tmp)
        os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old, ignore_errors=True)
    return True


def sync_dir(spark: SparkSession, base_dir: str, rdf_dir: str) -> tuple[list[str], list[str]]:
    """Directory sync (reference ``AggregateHdt::sync``,
    src/sparql.rs:235-294, invoked per HTTP request at
    src/serve.rs:159-161): diff the RDF files on disk against the
    registered graphs — new files become new named graphs
    (``file:///<name>``), graphs whose file vanished are dropped.

    Returns (added_graphs, dropped_graphs).
    """
    from de_spark.sources.nt import graph_iri_for_file
    from de_spark.sources.router import read_rdf

    rdf_exts = {".nt", ".ntriples", ".nq", ".nquads", ".ttl", ".turtle", ".n3",
                ".trig", ".rdf", ".owl", ".xml"}
    on_disk = {
        graph_iri_for_file(f): os.path.join(rdf_dir, f)
        for f in sorted(os.listdir(rdf_dir))
        if os.path.splitext(f)[1].lower() in rdf_exts
    }
    registered = _graphs(spark, base_dir)

    added, dropped = [], []
    new_paths = [p for g, p in on_disk.items() if g not in registered]
    if new_paths:
        raw, _, _ = read_rdf(spark, new_paths)
        add_graph(spark, base_dir, raw)
        added = sorted(set(on_disk) - registered)
    for g in sorted(registered - set(on_disk)):
        if drop_graph(spark, base_dir, g):
            dropped.append(g)
    return added, dropped


def load(spark: SparkSession, base_dir: str) -> KnowledgeGraph:
    _recover_pending(base_dir)
    return KnowledgeGraph.load(spark, base_dir)


def execute_update(spark: SparkSession, base_dir: str, update_text: str) -> list[str]:
    """Run a SPARQL UPDATE string against a materialized store with the
    reference's two-phase validate-then-execute discipline
    (src/serve.rs:783-1121): EVERY operation is validated against the
    current graph set before ANY executes, so a refused op leaves the
    store untouched.  Returns a log line per executed operation.

    Allowed: CREATE (no-op), INSERT DATA into new named graphs, LOAD
    into a new named graph, CLEAR/DROP of an existing named graph.
    Refused (UpdateRefusedError): DELETE DATA, DELETE/INSERT, inserts
    into existing graphs or the default graph, DEFAULT/NAMED/ALL graph
    targets — the parse layer raises for the statically-refused forms.
    """
    from de_spark import terms
    from de_spark.query.update import UpdateRefusedError, parse_update

    ops = parse_update(update_text)
    _recover_pending(base_dir)
    registered = _graphs(spark, base_dir)

    # phase 1: validate all operations against the CURRENT snapshot,
    # tracking the graph-set effects so multi-op updates validate in
    # sequence (INSERT then DROP of the same graph is legal)
    pending = set(registered)
    for op in ops:
        if op.kind == "create":
            if op.graph in pending and not op.silent:
                raise UpdateRefusedError(f"Graph {op.graph} already exists.")
        elif op.kind == "insert_data":
            if None in op.quads:
                raise UpdateRefusedError(
                    "INSERT DATA to default graph is not allowed. "
                    "Only named graphs are supported."
                )
            for g in op.quads:
                if g in pending:
                    raise UpdateRefusedError(
                        f"Graph {g} already exists. "
                        "INSERT DATA is only allowed to new graphs."
                    )
            pending |= set(op.quads)
        elif op.kind == "load":
            if op.graph in pending and not op.silent:
                raise UpdateRefusedError(
                    f"Graph {op.graph} already exists. "
                    "LOAD is only allowed to new graphs."
                )
            pending.add(op.graph)
        elif op.kind in ("clear", "drop"):
            if op.graph not in pending and not op.silent:
                raise UpdateRefusedError(f"Graph {op.graph} does not exist.")
            pending.discard(op.graph)

    # phase 2: execute
    log: list[str] = []
    for op in ops:
        if op.kind == "create":
            log.append(f"CREATE GRAPH {op.graph} - will be created on first INSERT")
        elif op.kind == "insert_data":
            rows = [
                (t.s, t.p, t.o, terms.classify_py(t.o), g)
                for g, triples in sorted(op.quads.items())
                for t in triples
            ]
            raw = spark.createDataFrame(rows, ["s", "p", "o", "o_kind", "graph"])
            add_graph(spark, base_dir, raw)
            log.append(
                f"INSERT DATA: {len(rows)} triples into {len(op.quads)} new graph(s)"
            )
        elif op.kind == "load":
            from de_spark.sources.router import read_rdf

            path = op.source
            if path.startswith("file://"):
                path = path[len("file://"):]
            raw, unhandled, _ = read_rdf(spark, [path])
            if unhandled:
                raise ValueError(f"LOAD source has an unhandled format: {op.source}")
            add_graph(spark, base_dir, raw.withColumn("graph", F.lit(op.graph)))
            log.append(f"LOAD {op.source} INTO GRAPH {op.graph}")
        elif op.kind in ("clear", "drop"):
            if drop_graph(spark, base_dir, op.graph):
                log.append(f"{op.kind.upper()} GRAPH {op.graph}")
            else:
                log.append(f"{op.kind.upper()} GRAPH {op.graph} (absent, SILENT)")
    return log
