"""The benchmark's workloads, driven through de_spark's public surface.

Every run: a Spark session and seeded inputs, then a measured window of
``--seconds`` whose op depends on the workload.  Every build is checked
against the generator's triples.

- ``build_code``  one op = read the code table → ``extract_code_triples``
                  → ``pipeline.build`` into a fresh directory; the first
                  op is the first build of the process, as for a
                  ``de create`` run, and its output is the store;
- ``build_rdf``   the same, from the corpus written as Turtle, N-Triples
                  and RDF/XML files (``read_rdf``);
- ``query_mix``   one op = one query of the seeded list on one client,
                  run and serialized, over a store built in set-up and
                  loaded once;
- ``update_mix``  three reader clients (``store.load`` + query each
                  request) beside one writer client (DROP / LOAD /
                  INSERT DATA with visibility checks), concurrently.

A traced run records spans around every call into the program and,
after the window, visits every layer on every workload: one query of
each class, one write of each kind, and the build's layer entry points
one by one (``decomposed_pass``).
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import gen
import harness
import oracle
from harness import Tracer, Watchdog, job_counts, median

WORKLOADS = ("build_code", "build_rdf", "query_mix", "update_mix")
READERS = 3                      # update_mix reader clients (plus one writer)
QUERY_DEADLINE_S = 10.0
CANCEL_GRACE_S = 2.0             # an op still running this long after its deadline is abandoned
WINDOW_ROUND = 8                 # query_mix runs whole rounds of the list's first queries,
MIN_ROUNDS = 2                   # at least two of them
WRITE_DEADLINE_S = 60.0
FRESH_GRAPH = "http://example.org/bench/graph/"
STORE_TABLES = ("triples_raw", "term_uids", "dict", "triples", "stats", "pred_stats")

# the known defects a failure may be attributed to (README.md, "Known defects")
DEFECT_DUP = "dup_rows"          # the store keeps duplicate (graph, s, p, o) rows
DEFECT_CLOSURE = "closure"       # seeded code:calls+ closures do not finish


@dataclass
class Sizes:
    n_files: int            # code files in the corpus
    files_per_repo: int     # RDF files per repository (build_rdf)
    side_files: int         # LOAD sources, and graphs built in for DROP
    side_triples: int       # statements per side file
    insert_triples: int     # statements per INSERT DATA
    n_queries: int          # length of the seeded query list


FULL = Sizes(n_files=300, files_per_repo=3, side_files=6, side_triples=60, insert_triples=20,
             n_queries=108)
SMOKE = Sizes(n_files=40, files_per_repo=1, side_files=3, side_triples=12, insert_triples=5,
              n_queries=24)


@dataclass
class Op:
    kind: str               # build | query | load | insert | drop
    cls: str                # query class, or the op kind
    phase: str              # setup | window | extra
    ms: float               # latency as counted (a missed deadline counts at the deadline)
    measured_ms: float      # wall until the op returned
    verdict: str            # ok | dup_rows | wrong | error | deadline | invisible
    defect: str | None      # the known defect that explains a failure
    extra: dict = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return self.verdict != "ok"


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _force(df) -> int:
    """Run ``df`` to completion without output; returns its row count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def _span_ms(sp) -> float:
    return (sp["end"] - sp["start"]) * 1000.0


def _say(msg: str) -> None:
    print(msg[:600], file=sys.stderr)


class Bench:
    def __init__(self, spark, workload: str, seed: int, seconds: float, trace: bool,
                 workdir: str, sizes: Sizes):
        self.spark, self.sc = spark, spark.sparkContext
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.workdir, self.sizes = trace, workdir, sizes
        self.tracer = Tracer(trace)
        self.watchdog = Watchdog(self.sc).start()
        self.oracle = None
        self.ops: list[Op] = []
        self.layer: dict[str, float] = {}
        self._lock = threading.Lock()
        self._op_seq = 0
        self._fresh = 0

    def close(self) -> None:
        self.watchdog.stop()
        if self.oracle is not None:
            self.oracle.close()

    def _next_op(self) -> int:
        with self._lock:
            self._op_seq += 1
            return self._op_seq

    def _record(self, op: Op) -> Op:
        with self._lock:
            self.ops.append(op)
        return op

    def _fresh_graph(self) -> str:
        with self._lock:
            self._fresh += 1
            return f"{FRESH_GRAPH}{self.seed}/g{self._fresh}"

    # ---------------------------------------------------------------- set-up

    def make_inputs(self) -> None:
        import pandas as pd

        s = self.sizes
        self.corpus = gen.code_corpus(self.seed, s.n_files)
        inp = os.path.join(self.workdir, "input")
        os.makedirs(inp)
        self.code_path = os.path.join(inp, "code.parquet")
        pd.DataFrame(self.corpus.rows).to_parquet(self.code_path)
        # the store is built from the code table (extract), except on
        # build_rdf: from the corpus written as mixed-format RDF files
        self.source = "rdf" if self.workload == "build_rdf" else "code"
        rdf, rdf_quads = gen.corpus_rdf_files(self.corpus, s.files_per_repo)
        self.rdf_paths = gen.write_rdf_files(rdf, os.path.join(inp, "rdf"))
        self.load_files = gen.rdf_files(self.seed, s.side_files, s.side_triples, prefix="load")
        self.load_paths = gen.write_rdf_files(self.load_files, os.path.join(inp, "load"))
        # graphs built into the store, for the writes to drop
        drop_files = gen.rdf_files(self.seed + 1, s.side_files, s.side_triples, prefix="drop",
                                   formats=("nt",))
        self.drop_paths = gen.write_rdf_files(drop_files, os.path.join(inp, "drop"))
        self.drop_graphs = ["file:///" + f.name for f in drop_files]
        # the statements the store must hold, graph by graph
        self.stated = (self.corpus.quads if self.source == "code" else rdf_quads) + [
            (s_, p, o, "file:///" + f.name) for f in drop_files for s_, p, o in f.triples
        ]
        self.distinct_triples = len(set(self.stated))

    def _raw(self):
        """The store's read step (code table → extract, or RDF files →
        read_rdf), plus the drop targets read from their N-Triples files."""
        from de_spark.sources import read_rdf

        paths = ([] if self.source == "code" else self.rdf_paths) + self.drop_paths
        rdf, unhandled, _ = read_rdf(self.spark, paths)
        if unhandled:
            raise RuntimeError(f"read_rdf left files unhandled: {unhandled}")
        if self.source != "code":
            return rdf
        from de_spark.extract import extract_code_triples

        return extract_code_triples(self.spark.read.parquet(self.code_path)).unionByName(rdf)

    def _build(self, out_dir: str, phase: str) -> tuple[Op, list]:
        from de_spark.pipeline import build

        op = self._next_op()
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.build", op=op):
            _, stages = build(self._raw(), out_dir)
        ms = (time.perf_counter() - t0) * 1000.0
        verdict = self._check_build(out_dir)
        if verdict == "wrong":
            _say(f"build {out_dir}: stored triples differ from the input's statements")
        defect = DEFECT_DUP if verdict == DEFECT_DUP else None
        return self._record(Op("build", "build", phase, ms, ms, verdict, defect)), stages

    def build_store(self) -> None:
        """The set-up build of the request workloads: the store their
        ops read and write."""
        out = os.path.join(self.workdir, "store")
        self._adopt_store(out, *self._build(out, "setup"))

    def _adopt_store(self, out_dir: str, op: Op, stages: list) -> None:
        self.store_dir = out_dir
        sizes = {t: _dir_bytes(os.path.join(out_dir, t)) for t in STORE_TABLES}
        self.store_bytes = sum(sizes.values())
        self.layer["build.triples_per_s"] = self.distinct_triples / (op.ms / 1000.0)
        for st in stages:
            self.layer[f"pipeline.stage_ms.{st.name}"] = float(st.wall_ms)
        self.layer["pipeline.overlap"] = sum(st.wall_ms for st in stages) / op.ms
        for t, b in sizes.items():
            self.layer[f"store.bytes.{t}"] = float(b)

    def _check_build(self, out_dir: str) -> str:
        """Decode the stored triples with the benchmark's own joins and
        compare with the generator's statements."""
        from pyspark.sql import functions as F

        trip = self.spark.read.parquet(os.path.join(out_dir, "triples"))
        uids = self.spark.read.parquet(os.path.join(out_dir, "term_uids"))

        def term(pos):
            return uids.select(F.col("uid").alias(f"{pos}_id"), F.col("term").alias(pos))

        rows = (
            trip.join(term("s"), "s_id").join(term("p"), "p_id").join(term("o"), "o_id")
            .select("s", "p", "o", "graph").collect()
        )
        if trip.count() != len(rows):
            return "wrong"  # a stored uid the dictionary cannot decode
        return oracle.judge_build([tuple(r) for r in rows], self.stated)

    def make_oracle(self) -> None:
        from de_spark import store
        from de_spark.query import sparql_select

        self.oracle = oracle.QueryOracle(self.stated)
        self.queries = gen.query_list(self.corpus, self.seed, self.sizes.n_queries)
        if self.workload == "query_mix":
            self.kg = store.load(self.spark, self.store_dir)
            # warm the request path once, untimed, with a query outside the list
            sparql_select(self.kg, f"SELECT (COUNT(*) AS ?n) WHERE {{ ?f a <{gen.CODE}File> }}").collect()

    # ---------------------------------------------------------------- window

    def run_window(self) -> None:
        """Closed loop: a client starts its next op only when the last one
        returned, and starts none after ``--seconds``.  ``build_*`` run at
        least one build; ``query_mix`` runs at least MIN_ROUNDS whole
        rounds of the first WINDOW_ROUND queries (one per class,
        path_closure not among them), so every run measures the same
        classes."""
        self.window_start = time.perf_counter()
        stop_at = self.window_start + self.seconds
        if self.workload in ("build_code", "build_rdf"):
            k = 0
            while k == 0 or time.perf_counter() < stop_at:
                out = os.path.join(self.workdir, f"build{k}")
                op, stages = self._build(out, "window")
                if k == 0:
                    self._adopt_store(out, op, stages)  # the store the traced passes use
                else:
                    shutil.rmtree(out)
                k += 1
        elif self.workload == "query_mix":
            rounds = 0
            while rounds < MIN_ROUNDS or time.perf_counter() < stop_at:
                for q in self.queries[:WINDOW_ROUND]:
                    self._record(self.run_query(q, "window", self.trace, kg=self.kg))
                rounds += 1
        else:
            self._concurrent(stop_at)
        self.window_s = time.perf_counter() - self.window_start

    def _concurrent(self, stop_at: float) -> None:
        errors: list[BaseException] = []

        def guarded(fn, *a):
            try:
                fn(*a)
            except BaseException as e:  # noqa: BLE001 — re-raised after join
                errors.append(e)
                traceback.print_exc()

        threads = [threading.Thread(target=guarded, args=(self._reader, k, stop_at))
                   for k in range(READERS)]
        threads.append(threading.Thread(target=guarded, args=(self._writer, stop_at)))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise RuntimeError(f"client thread crashed: {errors[0]!r}")

    def _reader(self, k: int, stop_at: float) -> None:
        n = len(self.queries)
        i = k * (n // READERS) + 4 * k
        while time.perf_counter() < stop_at:
            self._record(self.run_query(self.queries[i % n], "window", self.trace))
            i += 1

    def _writer(self, stop_at: float) -> None:
        rng = random.Random(self.seed * 31 + 7)
        k = 0
        while time.perf_counter() < stop_at:
            self._record(self.write(("drop", "load", "drop", "insert")[k % 4], k, rng, "window"))
            k += 1

    # --------------------------------------------------------------- queries

    def _emit(self, q: gen.Query, df) -> str:
        from de_spark.query import results
        from de_spark.sources.rdf_writers import render_ntriples

        if q.form == "ask":
            return getattr(results, f"ask_to_{q.fmt}")(bool(df.collect()[0][0]))
        if q.form in ("construct", "describe"):
            return "\n".join(r["line"] for r in render_ntriples(df).toLocalIterator())
        return getattr(results, f"to_{q.fmt}")(df)

    def run_query(self, q: gen.Query, phase: str, traced: bool, kg=None) -> Op:
        """One request under a deadline: ``store.load`` (unless a loaded
        ``kg`` is given), query, serialize; then judge the answer."""
        from de_spark import store
        from de_spark.query import sparql_construct, sparql_describe, sparql_select
        from de_spark.query.parser import parse_sparql

        op = self._next_op()
        group = f"bench-op{op}"
        tr = self.tracer if traced else Tracer(False)
        spans: dict = {}

        def request(kg=kg) -> str:
            with tr.span("query", op=op, cls=q.cls):
                if kg is None:
                    with tr.span("store.load") as spans["store.load"]:
                        kg = store.load(self.spark, self.store_dir)
                if traced:
                    with tr.span("query.parser") as spans["query.parser"]:
                        parse_sparql(q.sparql)
                with tr.span("query.plan") as spans["query.plan"]:
                    if q.form == "construct":
                        df = sparql_construct(kg, q.sparql)
                    elif q.form == "describe":
                        df = sparql_describe(kg, q.sparql)
                    else:
                        df = sparql_select(kg, q.sparql)
                with tr.span("query.exec") as spans["query.exec"]:
                    return self._emit(q, df)

        t0 = time.perf_counter()
        box, late = self.watchdog.call(group, QUERY_DEADLINE_S, CANCEL_GRACE_S, request)
        measured = (time.perf_counter() - t0) * 1000.0
        err = box.get("error")
        if late or not box:
            verdict = "deadline"
        elif err is not None:
            verdict = "error"
        else:
            verdict = oracle.judge_query(self.oracle, q, box["value"])
        defect = None
        if verdict == "dup_rows":
            defect = DEFECT_DUP
        elif verdict in ("deadline", "error") and q.cls == "path_closure":
            defect = DEFECT_CLOSURE
        elif verdict == "error":
            _say(f"query {q.qid} ({q.cls}) failed: "
                 + "".join(traceback.format_exception_only(err)).strip())
        elif verdict != "ok":
            _say(f"query {q.qid} ({q.cls}): {verdict}")
        extra = {"qid": q.qid}
        if traced:
            extra.update({k: _span_ms(sp) for k, sp in spans.items() if sp and "end" in sp})
            extra["jobs"], extra["tasks"], extra["failed_tasks"] = job_counts(self.sc, group)
            if verdict in ("ok", DEFECT_DUP):
                extra["rows"] = len(oracle.parse_answer(q, box["value"]))
        ms = QUERY_DEADLINE_S * 1000.0 if verdict == "deadline" else measured
        return Op("query", q.cls, phase, ms, measured, verdict, defect, extra)

    # ---------------------------------------------------------------- writes

    def _count_graph(self, graph: str) -> int:
        from de_spark import store
        from de_spark.query import sparql_select

        kg = store.load(self.spark, self.store_dir)
        df = sparql_select(kg, f"SELECT (COUNT(*) AS ?n) WHERE {{ GRAPH <{graph}> {{ ?s ?p ?o }} }}")
        return int(df.collect()[0][0])

    def write(self, kind: str, k: int, rng: random.Random | None, phase: str) -> Op:
        """The ``k``-th write of a writer: one SPARQL UPDATE through
        ``store.execute_update``, then a visibility check: after
        ``store.load`` a COUNT inside the graph must see exactly its
        distinct statements (none after a DROP).  ``rng`` draws the
        INSERT DATA statements."""
        from de_spark import store
        from de_spark.query.update import parse_update

        source = None
        if kind == "drop":
            graph = self.drop_graphs[(k // 2) % len(self.drop_graphs)]
            stated, update = [], f"DROP GRAPH <{graph}>"
        elif kind == "load":
            f = (k // 4) % len(self.load_files)
            graph, stated, source = self._fresh_graph(), self.load_files[f].triples, self.load_paths[f]
            update = f"LOAD <file://{source}> INTO GRAPH <{graph}>"
        else:
            graph = self._fresh_graph()
            stated = gen.insert_data_triples(rng, f"ins{k}", self.sizes.insert_triples)
            update = gen.insert_data_update(graph, stated)
        op = self._next_op()
        group = f"bench-op{op}"
        traced = self.trace and phase == "extra"
        tr = self.tracer if traced else Tracer(False)
        extra: dict = {}
        if traced:
            with tr.span("update.parser", op=op) as sp:
                parse_update(update)
            extra["update.parse"] = _span_ms(sp)
            uids_dir = os.path.join(self.store_dir, "term_uids")
            before = (_dir_bytes(self.store_dir), self.spark.read.parquet(uids_dir).count())

        def execute() -> None:
            with tr.span("store.drop" if kind == "drop" else "store.add", op=op, cls=kind):
                store.execute_update(self.spark, self.store_dir, update)

        t0 = time.perf_counter()
        box, late = self.watchdog.call(group, WRITE_DEADLINE_S, CANCEL_GRACE_S, execute)
        measured = (time.perf_counter() - t0) * 1000.0
        err = box.get("error")
        if traced:
            extra["jobs"], extra["tasks"], extra["failed_tasks"] = job_counts(self.sc, group)
            if kind != "drop":
                src_bytes = os.path.getsize(source) if source else len(update.encode())
                extra["bytes_per_input_byte"] = (_dir_bytes(self.store_dir) - before[0]) / src_bytes
                extra["new_terms"] = self.spark.read.parquet(uids_dir).count() - before[1]
        verdict, defect = "ok", None
        if late or not box:
            verdict = "deadline"
        elif err is not None:
            verdict = "error"
            _say(f"{kind} {graph} failed: " + "".join(traceback.format_exception_only(err)).strip())
        else:
            want = len(set(stated))
            try:
                got = self._count_graph(graph)
            except Exception as e:  # noqa: BLE001 — a check that cannot run is a failure
                got = None
                _say(f"visibility check of {graph} failed: {e!r}")
            if got != want:
                verdict = "invisible"
                if kind != "drop" and got == len(stated):
                    verdict, defect = DEFECT_DUP, DEFECT_DUP
                else:
                    _say(f"{kind} {graph}: visible count {got}, expected {want}")
        ms = WRITE_DEADLINE_S * 1000.0 if verdict == "deadline" else measured
        return Op(kind, kind, phase, ms, measured, verdict, defect, extra)

    # ------------------------------------------------------- traced extras

    def layer_passes(self) -> None:
        """Visit every layer once, traced: one query of each class the
        window did not already trace, a DROP and a LOAD, and the build
        decomposed into its layers."""
        seen = {o.cls for o in self.ops if o.kind == "query" and "jobs" in o.extra}
        for q in self.queries:
            if q.cls not in seen:
                seen.add(q.cls)
                self._record(self.run_query(q, "extra", True))
        # the last drop target: one an update_mix window has not dropped yet
        self._record(self.write("drop", 2 * len(self.drop_graphs) - 2, None, "extra"))
        self._record(self.write("load", 0, None, "extra"))
        self.decomposed_pass()

    def decomposed_pass(self) -> None:
        """Layer entry points in pipeline order, each forced to completion."""
        from pyspark.sql import functions as F

        from de_spark.dictionary import build_dict_and_uids, position_flags
        from de_spark.encode import encode_triples, plan_spo_partitions, planned_sort_spo
        from de_spark.extract import extract_code_triples
        from de_spark.sources import read_rdf
        from de_spark.stats import void_stats_from_dict

        tr, spark = self.tracer, self.spark
        op = self._next_op()
        with tr.span("extract", op=op) as sp:
            rows = _force(extract_code_triples(spark.read.parquet(self.code_path)))
        self.layer["extract.busy_ms"], self.layer["extract.rows"] = _span_ms(sp), rows
        with tr.span("sources", op=op) as sp:
            rows = _force(read_rdf(spark, self.rdf_paths)[0])
        self.layer["sources.busy_ms"], self.layer["sources.rows"] = _span_ms(sp), rows

        raw = spark.read.parquet(os.path.join(self.store_dir, "triples_raw"))
        n_raw = raw.count()
        handles: list = []
        with tr.span("dictionary", op=op) as sp:
            flags = position_flags(raw).persist()
            handles.append(flags)
            dict_df, uids = build_dict_and_uids(flags, handles=handles, flags_persisted=True)
            uids = uids.persist()
            handles.append(uids)
            self.layer["dictionary.terms"] = _force(uids)
            self.layer["dictionary.dict_rows"] = _force(dict_df)
        self.layer["dictionary.busy_ms"] = _span_ms(sp)
        with tr.span("encode", op=op) as sp:
            nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            p_vocab = flags.where(F.col("is_p") == 1).select("term").distinct()
            bounds = plan_spo_partitions(raw, uids, n_raw, nparts)
            rows = _force(planned_sort_spo(encode_triples(raw, uids, p_vocab), bounds, nparts))
        self.layer["encode.busy_ms"], self.layer["encode.rows"] = _span_ms(sp), rows
        with tr.span("stats", op=op) as sp:
            _force(void_stats_from_dict(
                spark.read.parquet(os.path.join(self.store_dir, "dict")),
                spark.read.parquet(os.path.join(self.store_dir, "triples")),
            ))
        self.layer["stats.busy_ms"] = _span_ms(sp)
        for h in handles:
            h.unpersist()

    # --------------------------------------------------------------- metrics

    def window_ms(self) -> list[float]:
        """Latencies of the window's measured ops (builds, or requests)."""
        return [o.ms for o in self.ops if o.phase == "window" and o.kind in ("build", "query")]

    def end_to_end(self, setup_s: float) -> dict[str, tuple[float, str]]:
        return {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (median(self.window_ms()), "ms"),
            "store_bytes_per_triple": (self.store_bytes / self.distinct_triples, "B"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        units = {"rows": "count", "terms": "count", "dict_rows": "count", "new_terms": "count",
                 "overlap": "ratio", "triples_per_s": "triples/s",
                 "add_jobs": "count", "drop_jobs": "count", "add_bytes_per_input_byte": "ratio"}
        out: dict[str, tuple[float, str]] = {}

        def put(name: str, value: float, unit: str | None = None) -> None:
            out[name] = (float(value), unit or units.get(name.rsplit(".", 1)[-1], "ms"))

        for k, v in self.layer.items():
            put(k, v, "B" if k.startswith("store.bytes.") else None)

        def p50(ops: list[Op], key: str) -> float:
            vals = [o.extra[key] for o in ops if key in o.extra]
            return median(vals) if vals else 0.0

        traced_q = [o for o in self.ops if o.kind == "query" and "jobs" in o.extra]
        for key in ("query.parser", "query.plan", "query.exec"):
            put(key.replace("parser", "parse") + "_ms", p50(traced_q, key))
        for key in ("jobs", "tasks", "rows"):
            put(f"query.{key}", p50(traced_q, key), "count")
        put("store.load_ms", p50(traced_q, "store.load"))
        for cls in gen.QUERY_CLASSES:
            put(f"query.class.{cls}.p50_ms", median([o.measured_ms for o in traced_q if o.cls == cls]))
        put("trace.op_p50_ms", median(self.window_ms()))
        adds = [o for o in self.ops if o.kind in ("load", "insert") and "jobs" in o.extra]
        drops = [o for o in self.ops if o.kind == "drop" and "jobs" in o.extra]
        put("update.parse_ms", p50(adds + drops, "update.parse"))
        put("store.add_ms", median([o.measured_ms for o in adds]))
        put("store.add_jobs", p50(adds, "jobs"))
        put("store.add_bytes_per_input_byte", p50(adds, "bytes_per_input_byte"))
        put("dictionary.new_terms", p50(adds, "new_terms"))
        put("store.drop_ms", median([o.measured_ms for o in drops]))
        put("store.drop_jobs", p50(drops, "jobs"))
        traced = [o for o in self.ops if "jobs" in o.extra]
        for key in ("jobs", "tasks", "failed_tasks"):
            put(f"spark.{key}", sum(o.extra[key] for o in traced), "count")
        put("spark.persisted_rdds", harness.persisted_rdds(self.spark), "count")
        put("jvm.gc_ms", harness.gc_ms(self.spark))
        put("fail_frac", sum(o.failed for o in self.ops) / len(self.ops), "ratio")
        for d in (DEFECT_DUP, DEFECT_CLOSURE):
            put(f"fail.{d}", sum(1 for o in self.ops if o.failed and o.defect == d), "count")
        put("fail.unexpected", sum(1 for o in self.ops if o.failed and o.defect is None), "count")
        return out
