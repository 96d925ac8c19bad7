"""KnowledgeGraph: the queryable artifact (dict + triples + stats).

Mirrors the reference's ``AggregateHdt`` (src/sparql.rs:25-118): a set of
named graphs, default graph = union of all graphs
(src/serve.rs:58 ``union_default_graph = true``), and one physical
access path — the triple pattern with each position bound or free
(``triples_with_pattern``, src/sparql.rs:468).  ``SCHEMAS`` declares
the store's tables; every engine read of one goes through
``read_table``.

The term dictionary also lives on the driver, as HDT keeps its
dictionary in the query process (``hdt::Hdt::new_hybrid_cache``,
src/sparql.rs:107): ``term_table`` reads the ``term_uids`` files into
one Arrow table once per store snapshot, with ``pyarrow.parquet`` on
the driver, and ``lookup`` resolves a request's constants in it with
``pyarrow.compute.is_in``; neither runs a Spark job.  A snapshot is
the file set a load's ``term_uids`` reads, so every ``store.load`` of
an unchanged store shares one table, and a load-per-request caller
pays the read only after a mutation.
Each table's memory is roughly the term bytes plus 12 B per term (a
4 B string offset and the 8 B uid); the process keeps the newest
``_SNAPSHOTS_KEPT`` tables, plus any a live loaded graph still holds.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field, replace

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyarrow import fs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Declared schemas of the store's tables (DDL).  A read that names its
# schema opens the files without a footer-inference job.
SCHEMAS = {
    "triples_raw": "s string, p string, o string, graph string",
    "term_uids": "term string, uid bigint",
    "dict": "graph string, section string, sec_id bigint, uid bigint",
    "triples": "s_id bigint, p_id bigint, o_id bigint, graph string",
    "stats": "graph string, triples bigint, properties bigint,"
    " distinct_subjects bigint, distinct_objects bigint",
    "pred_stats": "graph string, p_id bigint, n bigint",
}


def read_table(spark: SparkSession, base_dir: str, table: str) -> DataFrame:
    """One store table, read with its declared schema."""
    return spark.read.schema(SCHEMAS[table]).parquet(f"{base_dir}/{table}")


# Term tables read in this process, keyed by the sorted file list of
# the term_uids read they came from (a store snapshot: a mutation adds
# or removes files, and a written file is never rewritten under its
# name).  It lives at module level because ``store.load`` callers
# share no object; an entry is a function of its key alone, so sharing
# changes how many reads run, never a result.  Oldest use is evicted
# first.
_snapshots: OrderedDict[tuple[str, ...], pa.Table] = OrderedDict()
_snapshots_lock = threading.Lock()
_SNAPSHOTS_KEPT = 4
_TERMS_SCHEMA = pa.schema([("term", pa.string()), ("uid", pa.int64())])


def _read_terms(files: tuple[str, ...]) -> pa.Table:
    """The (term, uid) columns of the listed parquet files (URIs, as
    ``DataFrame.inputFiles`` gives them), read on the driver."""
    if not files:
        return _TERMS_SCHEMA.empty_table()
    filesystem = fs.FileSystem.from_uri(files[0])[0]
    paths = [fs.FileSystem.from_uri(f)[1] for f in files]
    return pq.read_table(
        paths, columns=_TERMS_SCHEMA.names, filesystem=filesystem, partitioning=None
    )


def _snapshot_terms(term_uids: DataFrame) -> pa.Table:
    """The (term, uid) Arrow table of one term_uids read: read from its
    files, with no Spark job, the first time its snapshot is seen in
    this process, then shared.  Concurrent first loads of one snapshot
    wait for that one read instead of repeating it.  The frame must be
    an uncached file read: a cached frame lists no files, so its table
    would be empty and every constant would miss."""
    if term_uids.is_cached:
        raise ValueError("term_uids is cached: the held dictionary is read from its files")
    key = tuple(sorted(term_uids.inputFiles()))
    with _snapshots_lock:
        table = _snapshots.get(key)
        if table is None:
            table = _snapshots[key] = _read_terms(key)
            while len(_snapshots) > _SNAPSHOTS_KEPT:
                _snapshots.popitem(last=False)
        _snapshots.move_to_end(key)
        return table


@dataclass
class KnowledgeGraph:
    term_uids: DataFrame  # term, uid — the one table here that holds term strings
    dict_df: DataFrame    # graph, section, sec_id, uid — strings via sections()
    triples: DataFrame    # graph, s_id, p_id, o_id
    stats: DataFrame      # graph, triples, properties, distinct_subjects, distinct_objects
    pred_stats: DataFrame | None = None  # graph, p_id, n — BGP selectivity stats
    # a request's constants: term → uid, None for a term the dictionary
    # lacks (see with_terms); None outside a request
    uids: dict[str, int | None] | None = None
    # driver-side data collected once per loaded graph, shared by its
    # request views (``replace`` passes both fields on)
    memo: dict = field(default_factory=dict, repr=False, compare=False)
    memo_lock: threading.Lock = field(default_factory=threading.Lock, repr=False, compare=False)

    # -- loading ------------------------------------------------------------

    @classmethod
    def load(cls, spark: SparkSession, base_dir: str) -> "KnowledgeGraph":
        import os

        pred = None
        if os.path.exists(f"{base_dir}/pred_stats"):
            pred = read_table(spark, base_dir, "pred_stats")
        return cls(
            *(read_table(spark, base_dir, t) for t in ("term_uids", "dict", "triples", "stats")),
            pred_stats=pred,
        )

    def sections(self) -> DataFrame:
        """The four-section dictionary with its term strings: the stored
        (graph, section, sec_id, uid) rows joined to term_uids on uid."""
        return self.dict_df.join(self.term_uids, "uid").select(
            "graph", "term", "section", "sec_id", "uid"
        )

    def _held(self, key: str, collect: Callable[[], object]):
        """``memo[key]``, collected by the first request that needs it;
        concurrent requests on one loaded graph wait for that one
        collection instead of repeating it."""
        if key not in self.memo:
            with self.memo_lock:
                if key not in self.memo:
                    self.memo[key] = collect()
        return self.memo[key]

    # -- constants (the dictionary side of triples_with_pattern) -------------

    def term_table(self) -> pa.Table:
        """The whole term dictionary as one Arrow table (term, uid),
        taken on first use (not in ``load``, so builds pay nothing)
        from the table of this graph's store snapshot, which is read
        from its files once per snapshot (``_snapshot_terms``).  A graph
        loaded before a store mutation keeps the files it listed, so
        its table stays that snapshot."""
        return self._held("term_table", lambda: _snapshot_terms(self.term_uids))

    def lookup(self, terms: Iterable[str]) -> dict[str, int | None]:
        """Resolve terms to uids in the driver-held dictionary
        (``term_table``), running no Spark job.  The request's terms are
        the hashed set and the dictionary is scanned against it: hashing
        the whole dictionary instead (``pc.index_in`` with it as the
        value set) would rebuild that table on every call.  A term the
        dictionary lacks maps to None."""
        terms = sorted(set(terms))
        if not terms:
            return {}
        table = self.term_table()
        wanted = pa.array(terms, table.schema.field("term").type)
        hits = table.filter(pc.is_in(table.column("term"), value_set=wanted))
        found = dict(zip(hits.column("term").to_pylist(), hits.column("uid").to_pylist()))
        return {t: found.get(t) for t in terms}

    def with_terms(self, terms: Iterable[str]) -> "KnowledgeGraph":
        """A request's view of the graph with every constant resolved
        up front, as HDT resolves a query's terms in the dictionary
        before calling ``triples_with_pattern`` (src/sparql.rs:468).
        The map lives for the request only; a view already holding one
        is returned as is, so a constant the request did not collect
        fails loudly (KeyError) instead of costing another lookup."""
        if self.uids is not None:
            return self
        return replace(self, uids=self.lookup(terms))

    def predicate_cardinalities(self) -> dict[int, int]:
        """Triple count per predicate uid, summed over graphs from the
        tiny pred_stats table (one row per graph and predicate).  It is
        collected once per loaded graph on first use (not in ``load``,
        so builds pay nothing) and every later call, from any request
        view, is a dict lookup; {} when stats are absent."""
        if self.pred_stats is None:
            return {}

        def collect() -> dict[int, int]:
            counts: dict[int, int] = {}
            for r in self.pred_stats.select("p_id", "n").collect():
                counts[r["p_id"]] = counts.get(r["p_id"], 0) + int(r["n"])
            return counts

        return self._held("pred_counts", collect)

    # -- physical access path (F1/F2) ----------------------------------------

    def _bind_const(self, df: DataFrame, col: str, term: str) -> DataFrame:
        """Filter triples where ``col`` is the uid of constant ``term``,
        read from the request's term map: a literal ``col = uid`` filter
        that reaches the Parquet scan, where the SPO-sorted files'
        row-group statistics prune.  A term with no uid matches nothing:
        ``where(false)`` folds the pattern to an empty relation, so no
        scan runs."""
        uid = self.uids[term]
        return df.where(F.lit(False) if uid is None else F.col(col) == uid)

    def pattern(
        self,
        s: str | None = None,
        p: str | None = None,
        o: str | None = None,
        graph: str | None = None,
    ) -> DataFrame:
        """All 8 bound/unbound shapes of (s?, p?, o?), optionally graph-
        restricted (graph filter = partition pruning, reference
        src/sparql.rs:86-99).  Outside a request the constants are
        resolved here, in one lookup."""
        bound = {c: t for c, t in (("s_id", s), ("p_id", p), ("o_id", o)) if t is not None}
        kg = self.with_terms(bound.values())
        df = self.triples
        if graph is not None:
            df = df.where(F.col("graph") == graph)
        for col, term in bound.items():
            df = kg._bind_const(df, col, term)
        return df

    # -- term decode (J4 decode side) ----------------------------------------

    def decode_vars(self, solutions: DataFrame, var_cols: list[str]) -> DataFrame:
        """Replace uid columns by their term strings (decode_uids).
        Already-string columns (a GRAPH ?g binding — graph names are
        not dictionary terms) pass through untouched."""
        dtypes = dict(solutions.dtypes)
        uid_cols = [v for v in var_cols if dtypes.get(v) == "bigint"]
        return self.decode_uids(solutions, solutions.columns, uid_cols)

    def decode_uids(self, df: DataFrame, columns: list[str], uid_cols: list[str]) -> DataFrame:
        """Replace the uid columns ``uid_cols`` of ``df``, whose
        columns are ``columns``, by their term strings (mirroring
        src/sparql.rs:491-497); the caller knows both, so no schema is
        read.  Each decoded column joins the same
        ``term_uids`` scan, so Spark broadcasts the dictionary once and
        reuses that exchange for every further column (a 3-variable
        SELECT plans one ``BroadcastExchange`` and two
        ``ReusedExchange``)."""
        out = df
        for v in uid_cols:
            uid_map = self.term_uids.select(
                F.col("uid").alias(v), F.col("term").alias(f"__term_{v}")
            )
            out = out.join(uid_map, v, "left")
        keep = [F.col(f"__term_{v}").alias(v) if v in uid_cols else F.col(v) for v in columns]
        return out.select(*keep)
