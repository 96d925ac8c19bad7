"""Planned SPO range partition: the triples stage routes rows to
shuffle partitions from a precomputed boundary plan instead of letting
``repartitionByRange`` re-execute the encode joins for boundary
sampling, and drops duplicate rows in the same exchange.  Pins (a) JVM
hash parity for the magic-int routing, (b) the output is exactly the
distinct encoded triples, (c) layout quality — rows land SPO-sorted and
range-clustered by (graph, s_id), (d) one exchange in the plan."""

from pyspark.sql import functions as F

from de_spark.dictionary import build_dict_and_uids, position_flags
from de_spark.encode import (
    _magic_partition_ints,
    _murmur3_int,
    encode_triples,
    plan_spo_partitions,
    planned_sort_spo,
)
from de_spark.corpus import generate_corpus
from de_spark.extract import extract_code_triples


def test_murmur3_matches_spark_hash(spark):
    vals = list(range(0, 200)) + [1 << 20, (1 << 31) - 1, 123456789]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = {r["v"]: r["h"] for r in df.select("v", F.hash("v").alias("h")).collect()}
    for v in vals:
        assert _murmur3_int(v) == got[v], v


def test_magic_ints_route_to_their_partition(spark):
    for n in (1, 7, 8, 32):
        magic = _magic_partition_ints(n)
        assert len(magic) == n
        for i, m in enumerate(magic):
            assert _murmur3_int(m) % n == i


def test_planned_sort_spo_equivalent_and_clustered(spark):
    # every triple twice: the layout must come out a set
    once = extract_code_triples(generate_corpus(spark, 0.001))
    raw = once.unionByName(once).cache()
    n_rows = raw.count()
    handles = []
    flags = position_flags(raw).persist()
    handles.append(flags)
    _, uids = build_dict_and_uids(flags, handles=handles, flags_persisted=True)
    uids = uids.persist()
    handles.append(uids)
    enc = encode_triples(raw, uids, None)

    nparts = 8
    bounds = plan_spo_partitions(raw, uids, n_rows, nparts)
    assert 0 < len(bounds) <= nparts - 1
    assert bounds == sorted(bounds)

    planned = planned_sort_spo(enc, bounds, nparts)
    distinct = enc.distinct()
    assert planned.count() < enc.count()
    assert planned.exceptAll(distinct).count() == 0
    assert distinct.exceptAll(planned).count() == 0
    assert "__route" not in planned.columns
    _assert_spo_sorted(planned)

    # layout quality: within every partition rows are SPO-sorted, and
    # partitions cover disjoint contiguous (graph, s_id) ranges
    parts = (
        planned.withColumn("part", F.spark_partition_id())
        .groupBy("part")
        .agg(
            F.min(F.struct("graph", "s_id")).alias("lo"),
            F.max(F.struct("graph", "s_id")).alias("hi"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    spans = sorted(
        ((r["lo"]["graph"], r["lo"]["s_id"]), (r["hi"]["graph"], r["hi"]["s_id"]))
        for r in parts
        if r["n"] > 0
    )
    for (_, prev_hi), (cur_lo, _) in zip(spans, spans[1:]):
        assert prev_hi <= cur_lo
    raw.unpersist()
    for h in handles:
        h.unpersist()


def _assert_spo_sorted(df):
    cols = ["graph", "s_id", "p_id", "o_id"]
    for part in df.rdd.glom().collect():
        keys = [tuple(r[c] for c in cols) for r in part]
        assert keys == sorted(keys)


def test_planned_sort_spo_without_boundaries(spark):
    """Tiny input (no boundaries): still deduplicated and SPO-sorted."""
    rows = [("g", 3, 1, 2), ("g", 1, 1, 1), ("g", 3, 1, 2), ("f", 2, 2, 2), ("g", 1, 1, 1)]
    enc = spark.createDataFrame(rows, "graph string, s_id long, p_id long, o_id long")
    out = planned_sort_spo(enc, [], 4)
    assert sorted(tuple(r) for r in out.collect()) == sorted(set(rows))
    _assert_spo_sorted(out)


def test_planned_sort_spo_single_exchange(spark, tmp_path):
    """The distinct rides on the route exchange: over an encoded parquet
    read the physical plan holds exactly one Exchange."""
    path = str(tmp_path / "enc")
    spark.createDataFrame(
        [("g", i % 5, 1, i) for i in range(40)],
        "graph string, s_id long, p_id long, o_id long",
    ).write.parquet(path)
    out = planned_sort_spo(spark.read.parquet(path), [("g", 2)], 4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
