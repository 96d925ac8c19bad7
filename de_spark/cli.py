"""CLI with the reference's verb surface (src/main.rs:19-62):

  python -m de_spark create -o OUT_DIR -d FILE [FILE...]
  python -m de_spark query  -d DATA [DATA...] -s QUERY.rq [-o FORMAT]
  python -m de_spark view   -d OUT_DIR

``create`` materializes a KG store from RDF files (one graph per file,
like `de query`'s implicit per-file graphs, or --single-graph NAME to
merge like `de create`).  ``query`` accepts either a materialized
store dir or raw RDF files (built on the fly — the reference also
rdf2hdt's raw RDF before querying, src/query.rs:264-297).  ``view``
prints the VOID stats (src/view.rs:52-55).

The ``serve`` verb (SPARQL-over-HTTP) is intentionally not ported —
SURVEY.md §7 risk 6.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

from de_spark.session import get_spark


def _read_rdf(spark, files, single_graph=None):
    """``read_rdf`` with its warnings printed to stderr."""
    from de_spark.sources import read_rdf

    raw, unhandled, warnings = read_rdf(spark, files, single_graph=single_graph)
    for w in [*warnings, *(f"unhandled file type: {p}" for p in unhandled)]:
        print(f"warning: {w}", file=sys.stderr)
    return raw


def cmd_create(args) -> int:
    from de_spark.pipeline import build

    spark = get_spark("de_create")
    kg, stages = build(_read_rdf(spark, args.data, args.single_graph), args.output)
    for s in stages:
        print(f"stage {s.name}: rows={s.rows} wall_ms={s.wall_ms}", file=sys.stderr)
    return 0


def cmd_query(args) -> int:
    """Each query file's answer, serialized by ``results.emit``."""
    from de_spark import store
    from de_spark.pipeline import build
    from de_spark.query.results import emit

    spark = get_spark("de_query")
    if len(args.data) == 1 and os.path.isdir(args.data[0]):
        kg = store.load(spark, args.data[0])
    else:
        kg, _ = build(_read_rdf(spark, args.data), tempfile.mkdtemp(prefix="de_query_"))
    for qf in args.query:
        with open(qf) as f:
            print(emit(kg, f.read(), args.output))
    return 0


def cmd_load(args) -> int:
    """SPARQL-UPDATE LOAD equivalent: RDF files → NEW named graphs in an
    existing store.  The reference validates LOAD but leaves it
    unimplemented (src/serve.rs:1045-1061 'not yet implemented'); here
    it is the batch mutation surface: read_rdf + add_graph (existing
    graphs are immutable and refused)."""
    from de_spark import store

    spark = get_spark("de_load")
    raw = _read_rdf(spark, args.files)
    try:
        store.add_graph(spark, args.data, raw)
    except store.GraphExistsError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    return 0


def cmd_update(args) -> int:
    """SPARQL UPDATE string surface (reference src/serve.rs:783-1121):
    CREATE / INSERT DATA into new graphs / LOAD INTO GRAPH /
    CLEAR|DROP GRAPH, with DELETE forms refused (read-only triples)."""
    from de_spark import store
    from de_spark.query.update import UpdateRefusedError

    spark = get_spark("de_update")
    if args.update:
        text = args.update
    else:
        with open(args.file) as f:
            text = f.read()
    try:
        for line in store.execute_update(spark, args.data, text):
            print(line, file=sys.stderr)
    except (UpdateRefusedError, store.GraphExistsError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    return 0


def cmd_view(args) -> int:
    from de_spark import store

    spark = get_spark("de_view")
    for r in store.load(spark, args.data).stats.orderBy("graph").collect():
        print(f"graph: {r['graph']}")
        print(f"  triples: {r['triples']}")
        print(f"  properties: {r['properties']}")
        print(f"  distinctSubjects: {r['distinct_subjects']}")
        print(f"  distinctObjects: {r['distinct_objects']}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="de_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("create", help="build a KG store from RDF files")
    c.add_argument("-o", "--output", required=True)
    c.add_argument("-d", "--data", nargs="+", required=True)
    c.add_argument("--single-graph", default=None)
    c.set_defaults(fn=cmd_create)

    q = sub.add_parser("query", help="run SPARQL over a store dir or RDF files")
    q.add_argument("-d", "--data", nargs="+", required=True)
    q.add_argument("-s", "--query", nargs="+", required=True)
    q.add_argument(
        "-o",
        "--output",
        default="csv",
        choices=["csv", "tsv", "json", "xml", "nt", "nq", "ttl", "turtle", "n3", "trig", "rdfxml"],
        help="solution format for SELECT/ASK; graph format for CONSTRUCT/DESCRIBE",
    )
    q.set_defaults(fn=cmd_query)

    v = sub.add_parser("view", help="print VOID stats of a store")
    v.add_argument("-d", "--data", required=True)
    v.set_defaults(fn=cmd_view)

    up = sub.add_parser("update", help="run a SPARQL UPDATE string against a store")
    up.add_argument("-d", "--data", required=True, help="store directory")
    up.add_argument("-u", "--update", default=None, help="inline update string")
    up.add_argument("-f", "--file", default=None, help="update file (.ru)")
    up.set_defaults(fn=cmd_update)

    ld = sub.add_parser("load", help="LOAD RDF files into a store as new named graphs")
    ld.add_argument("-d", "--data", required=True, help="store directory")
    ld.add_argument("-f", "--files", nargs="+", required=True)
    ld.set_defaults(fn=cmd_load)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
