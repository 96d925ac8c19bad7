"""Integer triple encoding + SPO-ordered materialization.

The reference's hdt crate encodes NT triples against the dictionary and
stores them SPO-sorted as bitmap/CSR adjacency lists
(tests/resources/apple.hdt header: ``triplesOrder "SPO"``), as a set.
Spark equivalent: three equi-joins against the term-uid table, then a
planned range shuffle on (graph, s_id) that also drops duplicate rows,
with in-partition (s_id, p_id, o_id) sort —
sorted parquet files + min/max row-group stats play the role of the
bitmap index (subject-bound patterns skip files, SURVEY.md §4 P1).

Join strategy at 100 TB:
- predicate terms are a tiny vocabulary → the p-side uid subset is
  broadcast (never shuffles the fact table);
- s/o joins shuffle on the term string; hub objects (rdf:type targets,
  hot import modules) are exactly the AQE skew-join case —
  ``spark.sql.adaptive.skewJoin.enabled`` is on in the session factory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def encode_triples(
    triples_raw: DataFrame, term_uids: DataFrame, p_vocab: DataFrame | None = None
) -> DataFrame:
    """triples_raw (strings) → (graph, s_id, p_id, o_id) uid triples.

    ``p_vocab`` (a DataFrame with a ``term`` column of the distinct
    predicate terms) can be supplied by the caller to avoid a rescan —
    the pipeline derives it from the position-flags aggregation."""
    s_uid = term_uids.select(F.col("term").alias("s"), F.col("uid").alias("s_id"))
    o_uid = term_uids.select(F.col("term").alias("o"), F.col("uid").alias("o_id"))

    # predicate vocabulary is tiny: restrict + broadcast
    if p_vocab is None:
        p_vocab = triples_raw.select(F.col("p").alias("term")).distinct()
    # explicit broadcast: p_vocab is a DISTINCT over the flags/raw
    # frame, whose size ESTIMATE stays at the child's (Catalyst cannot
    # see the reduction), so the planner otherwise sorts the whole uid
    # table for a SortMergeJoin semi — just to build an 8-row
    # broadcast input (observed in the sf1.0 plan capture)
    p_uid = term_uids.join(F.broadcast(p_vocab), "term", "left_semi").select(
        F.col("term").alias("p"), F.col("uid").alias("p_id")
    )

    # broadcast-p FIRST: the p string (~35B IRI) is replaced by an 8B
    # p_id on the map side, so the s- and o-join exchanges each carry
    # ~1GB less at sf1.0 (guide §2.3 "project before the exchange";
    # measured r7: encode noop 12.2s → 10.3s at sf1.0 local[32])
    return (
        triples_raw.join(F.broadcast(p_uid), "p")
        .join(s_uid, "s")
        .join(o_uid, "o")
        .select("graph", "s_id", "p_id", "o_id")
    )


def _murmur3_int(v: int, seed: int = 42) -> int:
    """Spark's ``F.hash`` over one IntegerType column: Murmur3_x86_32
    of the 4-byte value (pyspark parity pinned by
    tests/test_encode_layout.py::test_murmur3_matches_spark_hash)."""
    M = 0xFFFFFFFF
    k1 = (v & M) * 0xCC9E2D51 & M
    k1 = ((k1 << 15) | (k1 >> 17)) & M
    k1 = k1 * 0x1B873593 & M
    h1 = seed ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & M
    h1 = (h1 * 5 + 0xE6546B64) & M
    h1 ^= 4  # len
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & M
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & M
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _magic_partition_ints(num_partitions: int) -> list[int]:
    """magic[i] = smallest non-negative int whose Spark hash lands in
    shuffle partition i, i.e. ``pmod(hash(magic[i]), n) == i`` — so a
    plain ``repartition(n, magic_col)`` places rows EXACTLY where a
    precomputed plan says, with no boundary-sampling job."""
    magic: list[int | None] = [None] * num_partitions
    found, m = 0, 0
    while found < num_partitions:
        i = _murmur3_int(m) % num_partitions
        if magic[i] is None:
            magic[i] = m
            found += 1
        m += 1
    return magic  # type: ignore[return-value]


def plan_spo_partitions(
    triples_raw: DataFrame,
    term_uids: DataFrame,
    n_rows: int,
    num_partitions: int,
    seed: int = 7,
    samples_per_partition: int = 120,
) -> list[tuple[str, int]]:
    """Range boundaries for the SPO layout WITHOUT executing the encode
    joins: ``repartitionByRange``'s boundary-sampling pass runs the
    full child plan — for the triples stage that is a second complete
    encode of the fact table (~10-12s of the 29s stage at sf1.0,
    r7 profile).  Instead, sample the RAW triples' (graph, s) columns
    (a cheap column-pruned scan), attach s_id by joining the tiny
    sample AS THE BROADCAST SIDE against the already-cached uid table
    (one streaming pass, no shuffle), and take driver-side quantiles.
    Returns ≤ num_partitions-1 sorted (graph, s_id) boundaries.

    The sample is seeded → deterministic; the resulting row→partition
    assignment is a pure function of row content + boundary literals,
    so task retries are safe (guide §2.5: deterministic keys)."""
    if num_partitions <= 1 or n_rows <= 0:
        return []
    frac = min(1.0, (samples_per_partition * num_partitions) / n_rows)
    sample = triples_raw.select("graph", "s").sample(fraction=frac, seed=seed)
    keyed = term_uids.join(
        F.broadcast(sample), term_uids["term"] == sample["s"]
    ).select("graph", F.col("uid").alias("s_id"))
    keys = sorted((r["graph"], r["s_id"]) for r in keyed.collect())
    if not keys:
        return []
    bounds: list[tuple[str, int]] = []
    for i in range(1, num_partitions):
        b = keys[min(i * len(keys) // num_partitions, len(keys) - 1)]
        if not bounds or b != bounds[-1]:
            bounds.append(b)
    return bounds


def planned_sort_spo(
    triples_enc: DataFrame,
    boundaries: list[tuple[str, int]],
    num_partitions: int,
) -> DataFrame:
    """The DISTINCT encoded triples in SPO layout, via a PLANNED range
    partition: pid = #boundaries ≤ (graph, s_id) (lexicographic struct
    compares, codegen'd), mapped through the magic-int table so
    ``repartition(n, magic)`` routes each pid to its own shuffle
    partition, then sorted (graph, s_id, p_id, o_id) per partition.

    Duplicates are removed here, once, in uid space (RDF set semantics:
    HDT holds a set of triples).  ``__route`` is a function of
    (graph, s_id), so the route hash partitioning already clusters
    equal rows and the distinct adds no second exchange.  With no
    boundaries (tiny or empty input) every row routes to one
    partition."""
    magic = _magic_partition_ints(num_partitions)
    key = F.struct(F.col("graph"), F.col("s_id"))
    bounds = [
        F.struct(F.lit(g).alias("graph"), F.lit(s).cast("long").alias("s_id"))
        for g, s in boundaries
    ]
    pid = sum(((key >= b).cast("int") for b in bounds), F.lit(0))
    magic_arr = F.array(*[F.lit(m) for m in magic])
    routed = triples_enc.withColumn(
        "__route", F.element_at(magic_arr, pid + F.lit(1))
    )
    return (
        routed.repartition(num_partitions, "__route")
        .dropDuplicates(["__route", "graph", "s_id", "p_id", "o_id"])
        .drop("__route")
        .sortWithinPartitions("graph", "s_id", "p_id", "o_id")
    )


def decode_triples(triples_enc: DataFrame, term_uids: DataFrame) -> DataFrame:
    """(graph, s_id, p_id, o_id) → string triples, for emission only
    (mirror of the reference decoding at result time, src/sparql.rs:491-497)."""
    s_t = term_uids.select(F.col("uid").alias("s_id"), F.col("term").alias("s"))
    p_t = term_uids.select(F.col("uid").alias("p_id"), F.col("term").alias("p"))
    o_t = term_uids.select(F.col("uid").alias("o_id"), F.col("term").alias("o"))
    return (
        triples_enc.join(s_t, "s_id").join(p_t, "p_id").join(o_t, "o_id")
        .select("graph", "s", "p", "o")
    )
