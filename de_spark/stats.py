"""VOID/HDT header statistics (``de view``).

The reference writes VOID counts into every HDT header and ``de view``
prints them (src/view.rs:52-55; concrete golden from
tests/resources/apple.hdt: triples=9, properties=7, distinctSubjects=2,
distinctObjects=9).  The counts are exact — parity stats, not progress
metrics (SURVEY.md §2.4 A1) — and derived from the built tables, so they
count distinct triples and terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def void_stats_from_dict(dict_df: DataFrame, triples_enc: DataFrame) -> DataFrame:
    """VOID stats derived from the four-section dictionary — the
    distinct-counts are free (the dictionary IS the distinct term set
    per position: subjects = so+s sections, objects = so+o, properties
    = p), so the only fact-table pass is a plain per-graph count with
    map-side combine over the (already distinct) encoded triples.
    """
    sec_counts = dict_df.groupBy("graph").agg(
        F.sum(F.when(F.col("section") == "p", 1).otherwise(0)).cast("long").alias("properties"),
        F.sum(F.when(F.col("section").isin("so", "s"), 1).otherwise(0))
        .cast("long")
        .alias("distinct_subjects"),
        F.sum(F.when(F.col("section").isin("so", "o"), 1).otherwise(0))
        .cast("long")
        .alias("distinct_objects"),
    )
    trip_counts = triples_enc.groupBy("graph").agg(F.count("*").alias("triples"))
    return trip_counts.join(F.broadcast(sec_counts), "graph").select(
        "graph", "triples", "properties", "distinct_subjects", "distinct_objects"
    )
