"""KnowledgeGraph: the queryable artifact (dict + triples + stats).

Mirrors the reference's ``AggregateHdt`` (src/sparql.rs:25-118): a set of
named graphs, default graph = union of all graphs
(src/serve.rs:58 ``union_default_graph = true``), and one physical
access path — the triple pattern with each position bound or free
(``triples_with_pattern``, src/sparql.rs:468).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class KnowledgeGraph:
    term_uids: DataFrame  # term, uid
    dict_df: DataFrame    # graph, term, section, sec_id, uid
    triples: DataFrame    # graph, s_id, p_id, o_id
    stats: DataFrame      # graph, triples, properties, distinct_subjects, distinct_objects
    pred_stats: DataFrame | None = None  # graph, p_id, n — BGP selectivity stats

    # -- loading ------------------------------------------------------------

    @classmethod
    def load(cls, spark: SparkSession, base_dir: str) -> "KnowledgeGraph":
        import os

        pred = None
        if os.path.exists(f"{base_dir}/pred_stats"):
            pred = spark.read.parquet(f"{base_dir}/pred_stats")
        return cls(
            term_uids=spark.read.parquet(f"{base_dir}/term_uids"),
            dict_df=spark.read.parquet(f"{base_dir}/dict"),
            triples=spark.read.parquet(f"{base_dir}/triples"),
            stats=spark.read.parquet(f"{base_dir}/stats"),
            pred_stats=pred,
        )

    def predicate_cardinalities(self, pred_terms: list[str]) -> dict[str, int]:
        """Triple counts for constant predicate terms (plan-time driver
        lookup over the tiny pred_stats table, one row per graph and
        predicate, summed here; {} when stats absent)."""
        if self.pred_stats is None or not pred_terms:
            return {}
        uids = self.term_uids.where(F.col("term").isin(pred_terms)).select("term", "uid")
        rows = (
            uids.join(self.pred_stats, uids.uid == self.pred_stats.p_id, "left")
            .select("term", "n")
            .collect()
        )
        cards: dict[str, int] = {}
        for r in rows:
            cards[r["term"]] = cards.get(r["term"], 0) + int(r["n"] or 0)
        return cards

    # -- physical access path (F1/F2) ----------------------------------------

    def _bind_const(self, df: DataFrame, col: str, term: str) -> DataFrame:
        """Filter triples where ``col`` is the uid of constant ``term``.

        The uid lookup is a filtered scan of term_uids (predicate pushed
        to parquet) broadcast into a semi join — the fact table never
        shuffles for constant bindings.
        """
        uid = self.term_uids.where(F.col("term") == term).select(F.col("uid").alias(col))
        return df.join(F.broadcast(uid), col, "left_semi")

    def pattern(
        self,
        s: str | None = None,
        p: str | None = None,
        o: str | None = None,
        graph: str | None = None,
    ) -> DataFrame:
        """All 8 bound/unbound shapes of (s?, p?, o?), optionally graph-
        restricted (graph filter = partition pruning, reference
        src/sparql.rs:86-99)."""
        df = self.triples
        if graph is not None:
            df = df.where(F.col("graph") == graph)
        if s is not None:
            df = self._bind_const(df, "s_id", s)
        if p is not None:
            df = self._bind_const(df, "p_id", p)
        if o is not None:
            df = self._bind_const(df, "o_id", o)
        return df

    def pattern_decoded(self, s=None, p=None, o=None, graph=None) -> DataFrame:
        """pattern() with uids decoded back to term strings."""
        from de_spark.encode import decode_triples

        return decode_triples(self.pattern(s, p, o, graph), self.term_uids)

    # -- term decode (J4 decode side) ----------------------------------------

    def decode_vars(self, solutions: DataFrame, var_cols: list[str]) -> DataFrame:
        """Replace uid columns by their term strings (emission time only,
        mirroring src/sparql.rs:491-497).  Already-string columns (a
        GRAPH ?g binding — graph names are not dictionary terms) pass
        through untouched, as are bigint columns tagged with the
        ``de_spark_value`` column metadata (subquery aggregate results
        — plain numbers, not uids)."""
        dtypes = dict(solutions.dtypes)
        decode = [
            v
            for v in var_cols
            if dtypes.get(v) == "bigint"
            and not (solutions.schema[v].metadata or {}).get("de_spark_value")
        ]
        out = solutions
        for v in decode:
            uid_map = self.term_uids.select(
                F.col("uid").alias(v), F.col("term").alias(f"__term_{v}")
            )
            out = out.join(uid_map, v, "left")
        keep = [
            F.col(f"__term_{v}").alias(v) if v in decode else F.col(v)
            for v in solutions.columns
        ]
        return out.select(*keep)
